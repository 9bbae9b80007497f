"""Native column-expression implementations of the text functions.

These stay inside whole-stage codegen (translate / regexp_replace
chains) — the hot path for 10^12-row transforms. They match the
pure-Python reference semantics (``pytext.py``) on all practical
inputs; the two known dialect caveats are documented on the functions
(Java vs Python regex ``\\w``/lookbehind nuances) and covered by the
pytest native-vs-exact parity suite over the fixture corpus. For
byte-exact parity on arbitrary adversarial input, use
``vectorized.apply_text_transformations_udf`` instead.

Only NFC, HTML-entity decoding, and the markdown-link decision callback
genuinely cannot be expressed as column expressions; those live in
``vectorized.py`` as Arrow-batched pandas UDFs and are composed into
``text_pipeline`` here.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

_DROPPED = "\u00ad\u2060\u200b\u200c\u200d\ufeff\u202a\u202b\u202c\u202d\u202e"
_SPACED = "\u00a0\u202f\u2007\t"
_NEWLINED = "\u2028\u2029"


def normalize_whitespace(col: Column) -> Column:
    """F1 (transformations.py:67-138) as translate + 4 regexp_replace —
    fully codegen'd, no Python."""
    # translate maps by position: replaced chars first, dropped chars last
    out = F.translate(col, _SPACED + _NEWLINED + _DROPPED, " " * len(_SPACED) + "\n\n")
    out = F.regexp_replace(out, "[ - ]", " ")
    out = F.regexp_replace(out, " {2,}", " ")
    out = F.regexp_replace(out, "\n{3,}", "\n\n")
    out = F.regexp_replace(out, " +(?=\n)", "")   # rstrip each line
    out = F.btrim(out, F.lit(" \n"))               # strip whole string
    # preserve null/empty passthrough semantics (reference: `if not text`)
    return F.when(col.isNull() | (col == ""), col).otherwise(out)


def normalize_abbreviations(col: Column) -> Column:
    """F5 (transformations.py:243-267). Java-regex note: ``\\w`` is ASCII
    in Java vs Unicode in Python — after-match lookahead differs only
    when the abbreviation is immediately followed by a non-ASCII word
    char, which the parity suite covers."""
    out = F.regexp_replace(col, r"\b[dD]\.?\s*[jJ]\.?(?=\s|$|[^\w])", "d. J.")
    return F.regexp_replace(out, r"\b[dD]\.?\s*[äÄ]\.?(?=\s|$|[^\w])", "d. Ä.")


def normalize_wikidata_url(col: Column) -> Column:
    """F6 (transformations.py:270-294)."""
    return F.regexp_replace(
        col, r"(?:https?://)?m\.wikidata\.org/wiki/(Q\d+)", r"https://www.wikidata.org/wiki/$1"
    )


def normalize_urls(col: Column) -> Column:
    """F7 (transformations.py:297-316): strip trailing slashes at token end."""
    return F.regexp_replace(col, r"(https?://[^/\s]+)/+(?=\s|$)", r"$1")


def canonicalize_url(col: Column) -> Column:
    """Canonical form of an absolute http(s) URL — the web-pipeline
    dedup key (extends the reference's URL normalizations F6/F7,
    transformations.py:270-316, to the standard crawl-dedup recipe).
    Ordered, idempotent rewrites, all codegen'd:

    1. drop the fragment (``#...``)
    2. lowercase the scheme and authority (host is case-insensitive;
       path is NOT touched — it is case-sensitive)
    3. strip the default port (``:80`` for http, ``:443`` for https)
    4. drop tracking params: every ``utm_*=...`` pair, then a dangling
       ``?``/``&`` left behind
    5. collapse duplicate slashes in the path (not the ``//`` after the
       scheme)
    6. strip one trailing slash from a non-root path
    """
    # 1. fragment
    out = F.regexp_replace(col, r"#.*$", "")
    # 2. lowercase scheme://host[:port] (authority = everything before
    #    the first /, ? past the scheme)
    out = F.concat(
        F.lower(F.regexp_extract(out, r"^([^:/?#]+://[^/?#]*)", 1)),
        F.regexp_replace(out, r"^[^:/?#]+://[^/?#]*", ""),
    )
    # 3. default ports (capture groups, not lookarounds — the DuckDB
    #    twin runs on RE2, which has no lookaround; keeping both engines
    #    on the identical pattern is what makes the oracle exact)
    out = F.regexp_replace(out, r"^(http://[^/:?#]+):80([/?]|$)", r"$1$2")
    out = F.regexp_replace(out, r"^(https://[^/:?#]+):443([/?]|$)", r"$1$2")
    # 4. tracking params + dangling separators (assumes utm_ appears
    #    only as a query-param key, which URL grammar guarantees after
    #    a ? or &; bare "utm_" path segments are out of scope)
    out = F.regexp_replace(out, r"utm_[^&#]*&?", "")
    out = F.regexp_replace(out, r"[?&]$", "")
    # 5. duplicate slashes ("a//b" -> "a/b"; the char before the run is
    #    captured so "://" survives)
    out = F.regexp_replace(out, r"([^:/])/{2,}", r"$1/")
    # 6. trailing slash on a non-root path (root "scheme://host/" has no
    #    second slash to strip and stays as-is)
    return F.regexp_replace(out, r"(://[^/?#]+/[^?#]*?)/+(\?|$)", r"$1$2")


_URLISH = r"(?i:https?://|www\.|[a-z]+\.(?:com|org|net|de|ch|edu|gov|io|co))"


def normalize_markdown_links(col: Column) -> Column:
    """F4 best-effort native version (the reference's decision callback,
    transformations.py:190-240, re-expressed as ordered regex rewrites):

    1. (URL)[label]  → [label](URL)    when the paren side is URL-ish
    2. (label)[URL]  → [label](URL)    when only the bracket side is
    3. [URL](label)  → [label](URL)    when brackets URL-ish, parens not
    4. [label] URL   → [label](URL)
    """
    u = _URLISH
    out = F.regexp_replace(
        col, rf"\(([^)]*{u}[^)]*)\)\[([^\]]+)\]", r"[$2]($1)"
    )
    out = F.regexp_replace(
        out, rf"\(((?:(?!{u})[^)])+)\)\[([^\]]*{u}[^\]]*)\]", r"[$1]($2)"
    )
    out = F.regexp_replace(
        out, rf"\[([^\]]*{u}[^\]]*)\]\(((?:(?!{u})[^)])+)\)", r"[$2]($1)"
    )
    out = F.regexp_replace(out, r"\[([^\]]+)\]\s+(https?://[^\s\)]+)(?!\))", r"[$1]($2)")
    return out


def extract_wikidata_qids(col: Column) -> Column:
    """F11 (transformations.py:911-934): QIDs, order-preserving dedup —
    regexp_extract_all + array_distinct (array_distinct keeps first
    occurrences in order)."""
    return F.array_distinct(F.regexp_extract_all(col, F.lit(r"\bQ\d+\b"), 0))


def transform_literal_only(
    value: Column, type_col: Column, transform: "Column | None" = None
) -> Column:
    """F9 (transformations.py:466-498 transform_property_value): apply a
    normalization only where the property type is 'literal' — URI/other
    rows pass through untouched. ``transform`` is the already-built
    transformed column (defaults to :func:`text_pipeline` of ``value``);
    packaging the conditional keeps the literal-gate semantics in one
    place instead of ad-hoc F.when at every call site."""
    transformed = text_pipeline(value) if transform is None else transform
    return F.when(type_col == "literal", transformed).otherwise(value)


def decode_entities_nfc(col: Column) -> Column:
    """HTML-entity decoding + NFC, the one Arrow-batched pandas-UDF stage
    of the F8 chain (imported lazily: it needs pandas)."""
    from sgb_data_validator_spark.functions.vectorized import entities_nfc_udf

    return entities_nfc_udf(col)


#: The F8 ordered composition (transformations.py:423-464), offline
#: form, as (stage_name, function) pairs: entities → NFC → whitespace →
#: abbreviations → markdown → wikidata → URLs. ``text_pipeline`` folds
#: it into one expression; the transform job projects each stage as its
#: own column so the manifest can count per-stage changes.
TEXT_STAGES: tuple[tuple[str, Callable[[Column], Column]], ...] = (
    ("decode_entities_nfc", decode_entities_nfc),
    ("normalize_whitespace", normalize_whitespace),
    ("normalize_abbreviations", normalize_abbreviations),
    ("normalize_markdown_links", normalize_markdown_links),
    ("normalize_wikidata_url", normalize_wikidata_url),
    ("normalize_urls", normalize_urls),
)


def text_stages(exact_unicode: bool = True) -> tuple[tuple[str, Callable[[Column], Column]], ...]:
    """``TEXT_STAGES``, without the entities+NFC UDF stage when
    ``exact_unicode`` is False (for corpora known to be entity-free and
    NFC-normalized)."""
    return TEXT_STAGES if exact_unicode else TEXT_STAGES[1:]


def text_pipeline(col: Column, exact_unicode: bool = True) -> Column:
    """F8 ordered composition of ``text_stages(exact_unicode)``. Entity
    decoding + NFC ride ONE Arrow-batched pandas UDF (the only Python in
    the chain); everything downstream is codegen'd column expressions."""
    out = col
    for _, fn in text_stages(exact_unicode):
        out = fn(out)
    return out
