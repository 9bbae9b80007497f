"""Text-analysis operators for training-data curation.

Extends the reference's text handling (which normalizes and flags but
never scores — transformations.py, validate.py:467-506) with the
standard corpus-quality battery. Everything is native column
expressions (regexp_count / split / md5), fully codegen'd, and
each operator carries a DuckDB oracle in plans/driver_queries.py.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from sgb_data_validator_spark.operators.dedup import portable_hash

# tiny per-language stopword marker sets for the n-gram/stopword-hit
# heuristic language classifier (deliberately small + disjoint; real
# deployments swap in fastText — the Spark shape is identical)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is", "that", "with"],
    "de": ["der", "die", "das", "und", "nicht", "ist", "mit"],
    "fr": ["le", "la", "les", "et", "est", "pas", "avec"],
    "es": ["el", "la", "los", "que", "es", "con", "para"],
}

# regex token pattern: word runs OR single non-space punctuation — the
# BPE-ish pre-tokenizer shape (GPT-2 style, ASCII approximation)
TOKEN_PATTERN = r"[A-Za-z0-9_]+|[^A-Za-z0-9_\s]"


def _word_set(text: Column) -> Column:
    return F.array_distinct(F.split(F.lower(F.trim(text)), r"\s+"))


def lang_scores(text: Column) -> dict[str, Column]:
    """Stopword-hit count per language over the word set."""
    ws = _word_set(text)
    return {
        lang: F.size(F.array_intersect(ws, F.array(*[F.lit(m) for m in markers])))
        for lang, markers in LANG_MARKERS.items()
    }


def lang_id(text: Column) -> Column:
    """argmax language by marker hits; 'und' (undetermined) when no
    marker hits at all. Deterministic tie-break: language code order."""
    scores = lang_scores(text)
    best_lang = F.lit("und")
    best_score = F.lit(0)
    for lang in sorted(scores):  # later entries win only on strictly greater
        s = scores[lang]
        is_better = s > best_score
        best_lang = F.when(is_better, F.lit(lang)).otherwise(best_lang)
        best_score = F.when(is_better, s).otherwise(best_score)
    return best_lang


def token_count_ws(text: Column) -> Column:
    """Whitespace token count."""
    return F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.size(F.split(F.trim(text), r"\s+"))
    ).cast("bigint")


def token_count_regex(text: Column) -> Column:
    """BPE-ish regex token count (word runs + punctuation singles)."""
    return F.regexp_count(text, F.lit(TOKEN_PATTERN)).cast("bigint")


#: subword granularity of the BPE approximation: real BPE vocabularies
#: average ~4 chars/token on natural-language text (GPT-2/tiktoken's
#: published rule of thumb), so a pre-token of length L costs ceil(L/4)
#: subword units; 1-char punctuation costs exactly 1.
BPE_CHARS_PER_TOKEN = 4


def token_count_bpe(text: Column, chars_per_token: int = BPE_CHARS_PER_TOKEN) -> Column:
    """Deterministic, portable BPE-approximation token count: the text
    is pre-tokenized with TOKEN_PATTERN (word runs + punctuation
    singles, the GPT-2 pre-tokenizer shape) and each pre-token costs
    ``ceil(len / chars_per_token)`` subword units — the standard
    chars-per-token budgeting rule, engine-portable because it is pure
    integer arithmetic over regex matches (DuckDB twin:
    SQL_TOKEN_COUNT_BPE). Whitespace budgeting (token_count_ws)
    undercounts long words ~2-3x vs a real tokenizer; this estimator
    tracks BPE budgets closely enough to size packs with. Swap in a
    real tokenizer via the same Column->Column counter interface
    (pack_sequences takes any precomputed count column;
    token_window_chunks takes any tokenizer)."""
    per = F.transform(
        F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0),
        lambda t: F.floor((F.length(t) + (chars_per_token - 1)) / chars_per_token).cast(
            "bigint"
        ),
    )
    return F.coalesce(
        F.aggregate(per, F.lit(0).cast("bigint"), lambda a, x: a + x),
        F.lit(0).cast("bigint"),
    )


def tokenize_bpe(text: Column, chars_per_token: int = BPE_CHARS_PER_TOKEN) -> Column:
    """BPE-approximation subword ARRAY: each TOKEN_PATTERN pre-token is
    sliced into ceil(len/chars_per_token) pieces of at most
    ``chars_per_token`` chars, so ``size(tokenize_bpe(t)) ==
    token_count_bpe(t)`` by construction (pytest-pinned). Pure codegen
    (regex + nested transform + flatten), no UDF — the materialized
    form token_window_chunks needs to place window boundaries in the
    same units token_count_bpe budgets in."""
    c = chars_per_token
    return F.flatten(
        F.transform(
            F.regexp_extract_all(text, F.lit(TOKEN_PATTERN), 0),
            lambda t: F.transform(
                F.sequence(F.lit(0), F.floor((F.length(t) - 1) / c).cast("int")),
                lambda i: F.substring(t, i * c + 1, F.lit(c)),
            ),
        )
    )


def quality_features(text: Column) -> dict[str, Column]:
    """The standard cheap quality signals (Gopher/C4-style filters).

    Ratios are integer basis points (floor((num*10000) div den)) — exact
    integer arithmetic, so the values are bit-identical across engines
    (float rounding at half-boundaries is engine-dependent; integers
    aren't)."""
    n_chars = F.length(text).cast("bigint")
    n_words = token_count_ws(text)
    n_alpha = F.regexp_count(text, F.lit(r"[A-Za-z]")).cast("bigint")
    n_punct = F.regexp_count(text, F.lit(r"[^\w\s]")).cast("bigint")
    stop_hits = F.size(
        F.array_intersect(
            _word_set(text), F.array(*[F.lit(m) for m in LANG_MARKERS["en"]])
        )
    )

    def bp(num: Column, den: Column) -> Column:
        return F.floor((num * 10_000) / F.greatest(den, F.lit(1))).cast("bigint")

    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len_e2": F.floor((n_chars * 100) / F.greatest(n_words, F.lit(1))).cast("bigint"),
        "alpha_bp": bp(n_alpha, n_chars),
        "punct_bp": bp(n_punct, n_chars),
        "stopword_hits": stop_hits.cast("bigint"),
    }


def quality_score(text: Column) -> Column:
    """Composite quality score in [0, 100000] (e5 fixed-point): length
    band + alpha ratio + has stopwords + low punctuation. Weights are
    illustrative; the operator contract is the deterministic integer
    formula, oracle-matched exactly."""
    f = quality_features(text)
    length_ok = (f["n_words"] >= 5) & (f["n_words"] <= 10_000)
    score = (
        F.when(length_ok, F.lit(40_000)).otherwise(F.lit(0))
        + f["alpha_bp"] * 3
        + F.when(f["stopword_hits"] > 0, F.lit(20_000)).otherwise(F.lit(0))
        + F.when(f["punct_bp"] < 2_000, F.lit(10_000)).otherwise(F.lit(0))
    )
    return score.cast("bigint")


def doc_fingerprint(text: Column) -> Column:
    """Content fingerprint: md5 of the whitespace-canonicalized text —
    the exact-dup key for byte-identical-after-normalization docs."""
    return F.md5(F.regexp_replace(F.lower(F.trim(text)), r"\s+", " "))


def min_word_hash(text: Column) -> Column:
    """1-permutation document sketch: min portable word hash — the
    cheapest rolling-hash-style fingerprint (locality: equal word sets
    ⇒ equal sketch)."""
    return F.array_min(F.transform(_word_set(text), lambda w: portable_hash(w)))


def repetition_features(text: Column) -> dict[str, Column]:
    """Within-document repetition: word count, distinct-word count, and
    the repeated-word ratio in integer basis points — the standard
    boilerplate/spam curation signal (highly repetitive docs are
    templated or degenerate). Pure codegen projection, zero shuffle;
    integer bp keeps the oracle comparison exact (no float division)."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.when(F.trim(text) == "", F.lit(0)).otherwise(F.size(words)).cast("bigint")
    nd = F.when(F.trim(text) == "", F.lit(0)).otherwise(
        F.size(F.array_distinct(words))
    ).cast("bigint")
    rep_bp = F.when(n > 0, F.floor(F.lit(10_000) * (n - nd) / n)).otherwise(
        F.lit(0)
    ).cast("bigint")
    return {"n_words": n, "n_distinct": nd, "rep_bp": rep_bp}


def word_bigrams(text: Column) -> Column:
    r"""Adjacent word-bigram array ("a b", "b c", ...) over the
    lowercased whitespace split. Callers must pre-filter to texts with
    ≥ 2 words ON THE RAW COLUMN (``F.trim(text).rlike(r"\s")`` — any
    inner whitespace after trim ⇔ ≥ 2 tokens): filtering on
    size(split(...)) would be pushed below the projection by Catalyst
    and re-run the split per row, and sequence(1, 0) on a 1-word doc
    would DESCEND rather than come back empty.

    Shape: zip_with over two slices of ONE split, not
    transform(sequence(...), i -> element_at(words, i)) — higher-order
    lambdas get no common-subexpression elimination, so every
    element_at access re-evaluates the split: O(n²) per doc, measured
    10× slower at sf0.1 (same lesson as dedup.shingle_hashes)."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n1 = F.size(words) - 1
    return F.zip_with(
        F.slice(words, 1, n1),
        F.slice(words, 2, n1),
        lambda a, b: F.concat_ws(" ", a, b),
    )


def word_trigrams(text: Column) -> Column:
    r"""Adjacent word-trigram array over the lowercased whitespace
    split. Same zip_with-over-slices shape as word_bigrams (no
    element_at in a higher-order lambda — no CSE there, O(n²)).
    Callers must pre-filter to texts with ≥ 3 words on the raw column
    (two inner whitespace runs: ``rlike(r"\s+\S+\s")`` after trim)."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n2 = F.size(words) - 2
    pairs = F.zip_with(
        F.slice(words, 1, n2),
        F.slice(words, 2, n2),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    return F.zip_with(
        pairs,
        F.slice(words, 3, n2),
        lambda ab, c: F.concat_ws(" ", ab, c),
    )


# PII patterns — conservative, identical semantics under Java regex
# (Spark) and RE2 (DuckDB): no backrefs, no lookaround, so a DuckDB
# twin stays expressible (len(regexp_extract_all(...))) if a corpus
# ever needs the oracle path; counts are leftmost non-overlapping in
# both engines.
PII_PATTERNS = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "id_number": r"\b\d{9,}\b",
}


def pii_counts(text: Column) -> dict[str, Column]:
    """Per-pattern PII match counts (bigint) — pure codegen
    regexp_count, zero shuffle, one scan for all patterns; the
    redaction/filter step composes as a WHERE over these columns. The
    synthetic corpus contains no PII by construction, so this ships
    pytest-verified on constructed frames rather than as a vacuous
    all-zeros driver query."""
    return {
        name: F.coalesce(F.regexp_count(text, F.lit(pat)), F.lit(0)).cast("bigint")
        for name, pat in PII_PATTERNS.items()
    }


def gopher_flags(text: Column) -> dict[str, Column]:
    """Per-rule Gopher-style quality-filter flags (Rae et al. 2021,
    "Scaling Language Models", Table A1 — published thresholds) plus
    the composite ``keep``. Boolean per rule rather than one opaque
    score, so a curation report can say WHICH rule dropped a doc and a
    threshold sweep can flip one rule without rescoring the corpus.

    Thresholds (integer arithmetic throughout, engine-exact):
      * word count in [50, 100_000]
      * mean word length in [3, 10]  (chars/words incl. separators —
        documented delta from the paper's per-word mean; the contract
        here is the deterministic integer formula)
      * symbol(punct)-to-char ratio ≤ 10%
      * ≥ 80% of words contain an alphabetic character
      * ≥ 2 stopword hits

    Pure codegen projection, zero shuffle — one pass over the text in
    the scan stage, same scale shape as quality_features."""
    f = quality_features(text)
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n_alpha_words = F.size(
        F.filter(words, lambda w: w.rlike("[a-z]"))
    ).cast("bigint")
    alpha_word_bp = F.floor(
        (n_alpha_words * 10_000) / F.greatest(f["n_words"], F.lit(1))
    ).cast("bigint")
    flags = {
        "word_count_ok": (f["n_words"] >= 50) & (f["n_words"] <= 100_000),
        "mean_word_len_ok": (f["mean_word_len_e2"] >= 300)
        & (f["mean_word_len_e2"] <= 1_000),
        "symbol_ratio_ok": f["punct_bp"] <= 1_000,
        "alpha_word_ok": alpha_word_bp >= 8_000,
        "stopword_ok": f["stopword_hits"] >= 2,
    }
    keep = None
    for c in flags.values():
        keep = c if keep is None else (keep & c)
    return {**flags, "keep": keep}


def redact_pii(text: Column) -> Column:
    """Redact every PII_PATTERNS match with its <NAME> placeholder —
    the transform companion to pii_counts (count → gate → REDACT is
    the standard release pipeline). Chained regexp_replace, pure
    codegen, zero shuffle; patterns are the same RE2∩Java-safe set as
    pii_counts so a DuckDB twin (regexp_replace(…, 'g')) stays exact.
    Replacement order is dict order (email before ipv4 before
    id_number) — stated because a redacted placeholder must not be
    re-matched by a later pattern (none can: placeholders are pure
    uppercase-alpha in angle brackets)."""
    out = text
    for name, pat in PII_PATTERNS.items():
        out = F.regexp_replace(out, pat, f"<{name.upper()}>")
    return out


def token_entropy(df, id_col: str, text_col: str):
    """Per-document Shannon entropy of the token distribution — the
    quality signal that separates natural prose (high entropy) from
    generated/boilerplate repetition (low entropy) independently of
    the n-gram repetition_score. Emits (id, n_tokens, n_distinct,
    entropy, norm_entropy) with entropy in nats, norm_entropy =
    H / ln(n_distinct) ∈ [0, 1] (0 when a doc has ≤ 1 distinct token).

    Plan shape: tokens explode inside the scan stage (narrow; the text
    column never leaves the scan), then TWO map-side-combined
    aggregations over small (id, token, n) rows: counts per (id,
    token), then the -Σ p·ln p fold per id. Hash-partitioning by id is
    reused between the two aggs (second groupBy key is a prefix of the
    first), so AQE plans one real exchange. Rounded to 6 decimals —
    the sum is order-dependent in the last bits; the grain makes both
    engines agree."""
    toks = df.select(
        F.col(id_col).alias("id"),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).where(F.col("tok") != "")
    counts = toks.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("n"))
    # entropy needs the doc total inside the per-token term: rewrite it
    # as H = ln(N) - (Σ n·ln n)/N — one pass, no join back for totals.
    per_doc = counts.groupBy("id").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        F.sum(F.col("n") * F.log(F.col("n").cast("double"))).alias("__sum_nlnn"),
    )
    h = F.log(F.col("n_tokens").cast("double")) - F.col("__sum_nlnn") / F.col("n_tokens")
    return per_doc.select(
        "id",
        "n_tokens",
        "n_distinct",
        F.round(h, 6).alias("entropy"),
        F.when(
            F.col("n_distinct") > 1, F.round(h / F.log(F.col("n_distinct").cast("double")), 6)
        )
        .otherwise(F.lit(0.0))
        .alias("norm_entropy"),
    )
