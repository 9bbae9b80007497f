"""Oracle-checked queries for the text-transform pipeline (F1/F6/F7)
and the full transcript validation pipeline (the flagship, with a SQL
twin).

The transform oracle mirrors the native codegen chain
(functions/native.py) with RE2-dialect rewrites of the two
lookahead regexes (` +(?=\\n)` → consume-the-newline,
`/+(?=\\s|$)` → capture-the-boundary) — equivalent on all inputs.
Dirt is injected deterministically by doc_id so the normalization has
real work to do on this clean corpus. The Python-regex exact-parity
path (pandas UDFs) is covered separately by the pytest suite against
the pure-Python oracle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from sgb_data_validator_spark.functions import native

# ---- text transform pipeline --------------------------------------------

_DIRT_WIKIDATA = " see http://m.wikidata.org/wiki/Q1234 "
_DIRT_URL_SLASH = " ref https://example.com/// "


def _dirty_text() -> F.Column:
    """Deterministic dirt by doc_id: trailing blanks, tab runs, newline
    stacks, a mobile wikidata URL, a trailing-slash URL."""
    t = F.col("text")
    t = F.when(F.col("doc_id") % 3 == 0, F.concat(t, F.lit("   \t  tail   "))).otherwise(t)
    t = F.when(F.col("doc_id") % 3 == 1, F.concat(F.lit("  "), t, F.lit("\n\n\n\n\nend"))).otherwise(t)
    t = F.when(F.col("doc_id") % 5 == 0, F.concat(t, F.lit(_DIRT_WIKIDATA))).otherwise(t)
    t = F.when(F.col("doc_id") % 5 == 1, F.concat(t, F.lit(_DIRT_URL_SLASH))).otherwise(t)
    return t


def q_text_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    dirty = _dirty_text()
    out = native.normalize_whitespace(dirty)
    out = native.normalize_wikidata_url(out)
    out = native.normalize_urls(out)
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), out.alias("text_norm")
    )


# DuckDB mirror of the same chain. chr(9) = tab. Order matters and
# matches native.normalize_whitespace exactly; `[ - ]` and the
# unicode translate legs are no-ops on this ASCII corpus and are elided.
SQL_TEXT_PIPELINE = f"""
WITH dirty AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 3 = 0 THEN text || '   ' || chr(9) || '  tail   '
           WHEN doc_id % 3 = 1 THEN '  ' || text || repeat(chr(10), 5) || 'end'
           ELSE text
         END
         || CASE WHEN doc_id % 5 = 0 THEN '{_DIRT_WIKIDATA}' ELSE '' END
         || CASE WHEN doc_id % 5 = 1 THEN '{_DIRT_URL_SLASH}' ELSE '' END AS t
  FROM documents
),
ws AS (
  SELECT doc_id,
         trim(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(replace(t, chr(9), ' '), ' {{2,}}', ' ', 'g'),
                 chr(10) || '{{3,}}', chr(10) || chr(10), 'g'),
               ' +' || chr(10), chr(10), 'g'),
             '', '', 'g'),
           ' ' || chr(10)) AS t
  FROM dirty
)
SELECT cast(doc_id AS bigint) AS doc_id,
       regexp_replace(
         regexp_replace(t, '(?:https?://)?m\\.wikidata\\.org/wiki/(Q\\d+)',
                        'https://www.wikidata.org/wiki/\\1', 'g'),
         '(https?://[^/\\s]+)/+(\\s|$)', '\\1\\2', 'g') AS text_norm
FROM ws
"""


# ---- full transcript pipeline (flagship with oracle) ----------------------

EVENT_TYPES = ["click", "view", "purchase", "signup"]
GHOST_CONV = "u_ghost"


def turns_with_tool_dirt(ev: DataFrame) -> DataFrame:
    """The canonical events→transcript projection WITH the portable
    tool-dirt mapping — ONE definition shared by q_transcript_pipeline
    and certify_queries.q_cert_sample (and mirrored verbatim by their
    SQL twins): conv per user, dense turn_idx by (ts, event_id), role =
    event_type, text = props, tool = 'browser' on click turns / stray
    'shell' on every 97th user's non-click turns (fires BOTH ref.tool
    and tool.role_consistency), part = day of ts. A change to the
    ordering or the dirt mapping lands in every consumer at once."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        F.concat(F.lit("u"), F.col("user_id")).alias("conv_id"),
        (F.row_number().over(w) - 1).cast("int").alias("turn_idx"),
        F.col("event_type").alias("role"),
        F.col("props").alias("text"),
        F.when(F.col("event_type") == "click", F.lit("browser"))
        .when(F.col("user_id") % 97 == 0, F.lit("shell"))
        .alias("tool"),
        "ts",
    ).withColumn("part", F.date_format("ts", "yyyy-MM-dd"))


def q_transcript_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole engine over a transcript projection of events:
    row rules (incl. the fused tool⇔role rule) + uniqueness +
    referential (orphans, zero-children, tool vocab) + opening-role
    argmin + sequence rules, one violations frame out.

    Portable manifest: conversations = users with user_id % 7 != 0
    (every 7th user is an orphan), plus one ghost conversation with no
    turns (zero-children warning). Every 97th user carries an injected
    stray 'shell' tool on its non-click turns (fires BOTH ref.tool and
    tool.role_consistency); conversations opened by a purchase/signup
    fire conv.opening_role."""
    from sgb_data_validator_spark.operators import rules as R
    from sgb_data_validator_spark.plans import families as fam
    from sgb_data_validator_spark.plans.pipeline import TranscriptTables, compute_violations

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    turns = turns_with_tool_dirt(ev)
    convs = (
        ev.select("user_id").distinct()
        .where(F.col("user_id") % 7 != 0)
        .select(F.concat(F.lit("u"), F.col("user_id")).alias("conv_id"))
        .unionByName(spark.createDataFrame([(GHOST_CONV,)], "conv_id string"))
    )
    tools = spark.createDataFrame([("browser", "Browser")], "tool string, label string")
    rules = R.RowRuleSet().add(
        R.not_null("text"),
        R.non_empty("text"),
        R.in_vocabulary("role", EVENT_TYPES),
        R.no_url_in_text("text"),
        R.tool_role_consistency(tool_roles=("click",)),
    )
    t = TranscriptTables(turns=turns, conversations=convs, allowed_tools=tools)
    return compute_violations(
        t,
        [
            fam.row_rules(rules),
            fam.uniqueness,
            fam.opening_role(("view", "click")),
            fam.conversation_refs,
            fam.tool_refs,
            fam.sequence,
        ],
    )


_IN_TYPES = ", ".join(repr(x) for x in EVENT_TYPES)

SQL_TRANSCRIPT_PIPELINE = f"""
WITH turns AS (
  SELECT 'u' || user_id::VARCHAR AS conv_id,
         cast(row_number() OVER (PARTITION BY user_id ORDER BY ts NULLS FIRST, event_id NULLS FIRST) - 1 AS int) AS turn_idx,
         event_type AS role, props AS text,
         CASE WHEN event_type = 'click' THEN 'browser'
              WHEN user_id % 97 = 0 THEN 'shell' END AS tool,
         ts, strftime(ts, '%Y-%m-%d') AS part
  FROM events
),
manifest AS (
  SELECT DISTINCT 'u' || user_id::VARCHAR AS conv_id FROM events WHERE user_id % 7 <> 0
  UNION ALL SELECT '{GHOST_CONV}'
),
base AS (
  SELECT *, (text IS NOT NULL AND trim(text) <> '') AS parse_ok FROM turns
),
dups AS (
  SELECT conv_id, turn_idx, count(*) AS c FROM turns GROUP BY 1, 2 HAVING count(*) > 1
),
seq AS (
  SELECT conv_id, turn_idx, part, ts,
         lag(ts) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_ts,
         lag(turn_idx) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev_idx
  FROM turns
)
-- row rules (single-pass family)
SELECT 'not_null.text' AS rule_id, conv_id, turn_idx, 'text' AS "column",
       cast(NULL AS varchar) AS offending_value, 'error' AS severity, part
FROM base WHERE text IS NULL
UNION ALL
SELECT 'non_empty.text', conv_id, turn_idx, 'text', substr(text, 1, 80), 'error', part
FROM base WHERE text IS NOT NULL AND trim(text) = ''
UNION ALL
SELECT 'vocab.role', conv_id, turn_idx, 'role', substr(role, 1, 80), 'error', part
FROM base WHERE parse_ok AND role IS NOT NULL AND role NOT IN ({_IN_TYPES})
UNION ALL
SELECT 'url_in_text.text', conv_id, turn_idx, 'text',
       substr(regexp_extract(text, '(?i)(?:https?://|ftp://|www\\.)[^\\s]+', 0), 1, 80),
       'warning', part
FROM base WHERE parse_ok AND text IS NOT NULL
  AND regexp_matches(text, '(?i)(?:https?://|ftp://|www\\.)[^\\s]+')
-- uniqueness (salted two-stage in Spark; plain dup-count here)
UNION ALL
SELECT 'unique.turn', t.conv_id, t.turn_idx, 'conv_id,turn_idx',
       'duplicate x' || d.c::VARCHAR, 'error', t.part
FROM turns t JOIN dups d USING (conv_id, turn_idx)
-- referential: orphan turns
UNION ALL
SELECT 'ref.conv_id', conv_id, turn_idx, 'conv_id', conv_id, 'error', part
FROM turns t WHERE conv_id IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM manifest m WHERE m.conv_id = t.conv_id)
-- referential: zero-children conversations
UNION ALL
SELECT 'empty.conversation', m.conv_id, cast(NULL AS int), 'conv_id', m.conv_id,
       'warning', cast(NULL AS varchar)
FROM manifest m WHERE NOT EXISTS (SELECT 1 FROM turns t WHERE t.conv_id = m.conv_id)
-- referential: tool vocabulary
UNION ALL
SELECT 'ref.tool', conv_id, turn_idx, 'tool', tool, 'error', part
FROM turns WHERE tool IS NOT NULL AND tool NOT IN ('browser')
-- row rule: non-null tool only legal on click rows
UNION ALL
SELECT 'tool.role_consistency', conv_id, turn_idx, 'tool',
       substr(tool, 1, 80), 'warning', part
FROM turns WHERE tool IS NOT NULL AND role NOT IN ('click')
-- opening-role argmin (turn_idx is row_number-derived ⇒ first = 0)
UNION ALL
SELECT 'conv.opening_role', conv_id, turn_idx, 'role',
       substr(role, 1, 80), 'warning', part
FROM turns WHERE turn_idx = 0 AND role NOT IN ('view', 'click')
-- sequence: ts monotonicity
UNION ALL
SELECT 'ts.monotonicity', conv_id, turn_idx, 'ts', ts::VARCHAR, 'warning', part
FROM seq WHERE prev_ts IS NOT NULL AND ts < prev_ts
-- sequence: turn contiguity
UNION ALL
SELECT 'turn.contiguity', conv_id, turn_idx, 'turn_idx', turn_idx::VARCHAR, 'warning', part
FROM seq WHERE (prev_idx IS NULL AND turn_idx <> 0)
   OR (prev_idx IS NOT NULL AND turn_idx - prev_idx > 1)
"""


# ---- fuzzy dimension match (J5 analog) ------------------------------------

FUZZY_THRESHOLD_BP = 6_000


def q_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-1 fuzzy match of a dirtied label against the source dimension
    (reference DOI enrichment shape: broadcast dim × fact → score →
    window top-1 → threshold; transformations.py:611-690)."""
    from sgb_data_validator_spark.operators.fuzzy import fuzzy_best_match

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fact = docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.concat(F.col("source"), F.lit("-x"), F.col("doc_id") % 10).alias("label"),
    )
    dim = docs.select(F.col("source").alias("dim_key")).distinct().withColumn(
        "dim_text", F.col("dim_key")
    )
    return fuzzy_best_match(
        fact, dim, "doc_id", "label", "dim_key", "dim_text", threshold_bp=FUZZY_THRESHOLD_BP
    ).select(F.col("fact_key").cast("bigint").alias("fact_key"), "dim_key", "sim_bp")


SQL_FUZZY_MATCH = f"""
WITH dim AS (SELECT DISTINCT source AS dim_key, lower(trim(source)) AS dim_text FROM documents),
f AS (
  SELECT doc_id AS fact_key,
         lower(trim(source || '-x' || (doc_id % 10)::VARCHAR)) AS fact_text
  FROM documents
),
scored AS (
  SELECT fact_key, dim_key,
         cast(10000 - floor((levenshtein(fact_text, dim_text) * 10000)
                            / cast(greatest(length(fact_text), length(dim_text), 1) AS double))
              AS bigint) AS sim_bp
  FROM f CROSS JOIN dim
),
ranked AS (
  SELECT fact_key, dim_key, sim_bp,
         row_number() OVER (PARTITION BY fact_key ORDER BY sim_bp DESC, dim_key ASC) AS rn
  FROM scored
)
SELECT cast(fact_key AS bigint) AS fact_key, dim_key, sim_bp
FROM ranked WHERE rn = 1 AND sim_bp >= {FUZZY_THRESHOLD_BP}
"""


# ---- hierarchical prefix membership (J3 analog) ---------------------------

HIER_VOCAB = ["src1", "src2", "src5"]


def q_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-chain membership: a code is valid iff any prefix is in the
    vocabulary (Iconclass semantics, iconclass.py:54-99) — pure codegen
    prefix expansion + arrays_overlap, no join."""
    from sgb_data_validator_spark.operators.fuzzy import hierarchical_membership_violations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return hierarchical_membership_violations(docs, "doc_id", "source", HIER_VOCAB)


_HIER = ", ".join(f"'{v}'" for v in HIER_VOCAB)

SQL_HIERARCHY = f"""
SELECT 'hierarchy.code' AS rule_id, cast(doc_id AS varchar) AS doc_id,
       'source' AS "column", substr(source, 1, 80) AS offending_value,
       'error' AS severity
FROM documents
WHERE source IS NOT NULL
  AND NOT list_has_any(
        list_transform(range(1, length(source) + 1), i -> substr(source, 1, i)),
        [{_HIER}])
"""


# ---- QID extraction (F11) -------------------------------------------------

def q_qid_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """extract_wikidata_qids over text with injected QIDs; output sorted
    then comma-joined to a flat string — the driver's pandas-based
    canonicalizer cannot hash array cells (round-1 gate failure), and a
    joined string carries the identical information."""
    from sgb_data_validator_spark.functions.native import extract_wikidata_qids

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    injected = F.concat(
        F.col("text"), F.lit(" Q42 see Q42 and Q"), (F.col("doc_id") % 100)
    )
    return docs.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.array_join(F.array_sort(extract_wikidata_qids(injected)), ",").alias("qids"),
    )


SQL_QID_EXTRACT = """
SELECT cast(doc_id AS bigint) AS doc_id,
       array_to_string(list_sort(list_distinct(
         regexp_extract_all(text || ' Q42 see Q42 and Q' || (doc_id % 100)::VARCHAR,
                            '\\bQ\\d+\\b'))), ',') AS qids
FROM documents
"""


def q_transform_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The transform job's manifest computation in driver-checkable
    form (jobs/transform.py:transformed_with_metrics): per-stage
    changed-row counts over the SAME doc_id-deterministic dirt and the
    SAME DuckDB-replayable stage subset as ``text_pipeline``
    (whitespace → wikidata → urls; the entities+NFC pandas-UDF stage is
    Python-regex territory, pytest-pinned instead). All three stage
    comparisons are conditional sums inside ONE aggregation over one
    scan — exactly how the job observes them on the write. As in the
    job, each stage is projected once as its own column, so its
    regexes run once per row instead of once per reference."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    staged = (
        docs.select(_dirty_text().alias("c0"))
        .withColumn("c1", native.normalize_whitespace(F.col("c0")))
        .withColumn("c2", native.normalize_wikidata_url(F.col("c1")))
        .withColumn("c3", native.normalize_urls(F.col("c2")))
    )

    def changed(prev: str, cur: str) -> Column:
        return F.sum((~F.col(prev).eqNullSafe(F.col(cur))).cast("bigint"))

    agg = staged.agg(
        F.count(F.lit(1)).cast("bigint").alias("rows"),
        changed("c0", "c1").alias("ws"),
        changed("c1", "c2").alias("wd"),
        changed("c2", "c3").alias("url"),
    )
    return agg.select(
        F.expr(
            "stack(3, 1, 'normalize_whitespace', ws, "
            "2, 'normalize_wikidata_url', wd, "
            "3, 'normalize_urls', url) AS (ord, stage, changed_rows)"
        ),
        "rows",
    ).select(
        F.col("ord").cast("int").alias("ord"),
        "stage",
        F.col("changed_rows").cast("bigint").alias("changed_rows"),
        "rows",
    )


# the dirty/ws legs are byte-identical to SQL_TEXT_PIPELINE's (the
# hash-green end-to-end twin); the per-stage counts compare each leg to
# its predecessor with null-safe inequality, mirroring the job's
# observe() metrics
SQL_TRANSFORM_STAGES = f"""
WITH dirty AS (
  SELECT doc_id,
         CASE
           WHEN doc_id % 3 = 0 THEN text || '   ' || chr(9) || '  tail   '
           WHEN doc_id % 3 = 1 THEN '  ' || text || repeat(chr(10), 5) || 'end'
           ELSE text
         END
         || CASE WHEN doc_id % 5 = 0 THEN '{_DIRT_WIKIDATA}' ELSE '' END
         || CASE WHEN doc_id % 5 = 1 THEN '{_DIRT_URL_SLASH}' ELSE '' END AS t0
  FROM documents
),
chain AS (
  SELECT doc_id, t0,
         trim(
           regexp_replace(
             regexp_replace(
               regexp_replace(
                 regexp_replace(replace(t0, chr(9), ' '), ' {{2,}}', ' ', 'g'),
                 chr(10) || '{{3,}}', chr(10) || chr(10), 'g'),
               ' +' || chr(10), chr(10), 'g'),
             '', '', 'g'),
           ' ' || chr(10)) AS t1
  FROM dirty
),
chain2 AS (
  SELECT *, regexp_replace(t1, '(?:https?://)?m\\.wikidata\\.org/wiki/(Q\\d+)',
                           'https://www.wikidata.org/wiki/\\1', 'g') AS t2
  FROM chain
),
chain3 AS (
  SELECT *, regexp_replace(t2, '(https?://[^/\\s]+)/+(\\s|$)', '\\1\\2', 'g') AS t3
  FROM chain2
),
agg AS (
  SELECT cast(count(*) AS bigint) AS rows,
         cast(sum(CASE WHEN t1 IS DISTINCT FROM t0 THEN 1 ELSE 0 END) AS bigint) AS ws,
         cast(sum(CASE WHEN t2 IS DISTINCT FROM t1 THEN 1 ELSE 0 END) AS bigint) AS wd,
         cast(sum(CASE WHEN t3 IS DISTINCT FROM t2 THEN 1 ELSE 0 END) AS bigint) AS url
  FROM chain3
)
SELECT cast(1 AS int) AS ord, 'normalize_whitespace' AS stage, ws AS changed_rows, rows FROM agg
UNION ALL
SELECT cast(2 AS int), 'normalize_wikidata_url', wd, rows FROM agg
UNION ALL
SELECT cast(3 AS int), 'normalize_urls', url, rows FROM agg
"""


TRANSFORM_QUERIES: dict[str, tuple] = {
    "text_pipeline": (q_text_pipeline, SQL_TEXT_PIPELINE),
    "transform_stages": (q_transform_stages, SQL_TRANSFORM_STAGES),
    "transcript_pipeline": (q_transcript_pipeline, SQL_TRANSCRIPT_PIPELINE),
    "fuzzy_match": (q_fuzzy_match, SQL_FUZZY_MATCH),
    "hierarchy": (q_hierarchy, SQL_HIERARCHY),
    "qid_extract": (q_qid_extract, SQL_QID_EXTRACT),
}
