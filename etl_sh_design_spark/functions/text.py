"""Text-analysis scalar functions (training-data-pipeline extension layer).

NOT from the reference (which has no string processing beyond cosmetics,
SURVEY.md §2.8) — these are the text-quality operators a large-scale
LLM-data pipeline needs, built as pure `F.*` expressions so they run
JVM-side over 100 TB without a Python round-trip.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]

# A tiny per-language marker lexicon for the n-gram language-ID heuristic.
LANG_MARKERS = {
    "en": ["the", "and", "is", "a", "of"],
    "de": ["der", "und", "ist", "das", "ein"],
    "fr": ["le", "et", "est", "la", "un"],
    "es": ["el", "y", "es", "la", "un"],
}


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def tokens(text: str | Column = "text") -> Column:
    """Whitespace tokenization; empty strings filtered."""
    return F.filter(F.split(_c(text), r"\s+"), lambda t: t != "")


def token_count(text: str | Column = "text") -> Column:
    return F.size(tokens(text))


def word_tokens(text: str | Column = "text") -> Column:
    """BPE-ish regex tokenization: words OR single non-space symbols."""
    t = F.regexp_replace(_c(text), r"([^\w\s])", r" $1 ")
    return F.filter(F.split(t, r"\s+"), lambda x: x != "")


def stopword_ratio(text: str | Column = "text") -> Column:
    toks = tokens(F.lower(_c(text)))
    n_stop = F.size(F.filter(toks, lambda t: t.isin(STOPWORDS)))
    return F.when(F.size(toks) > 0, n_stop.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(text: str | Column = "text") -> Column:
    t = _c(text)
    n_punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return F.when(F.length(t) > 0, n_punct.cast("double") / F.length(t)).otherwise(F.lit(0.0))


def mean_word_length(text: str | Column = "text") -> Column:
    toks = tokens(text)
    total = F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t))
    return F.when(F.size(toks) > 0, total.cast("double") / F.size(toks)).otherwise(F.lit(0.0))


def quality_score(text: str | Column = "text") -> Column:
    """Composite heuristic quality score in [0, 1]: rewards moderate
    length, low punctuation density, and a natural stopword rate."""
    n_tok = token_count(text).cast("double")
    len_score = F.least(n_tok / 100.0, F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - 4.0 * punct_ratio(text))
    stop_score = F.least(F.lit(1.0), 4.0 * stopword_ratio(text))
    return F.round((len_score + punct_pen + stop_score) / 3.0, 6)


def lang_id(text: str | Column = "text") -> Column:
    """Marker-word language-ID heuristic: the language with the most
    marker-token hits wins; ties and zero hits -> 'und'."""
    toks = tokens(F.lower(_c(text)))
    scores = [
        (lang, F.size(F.filter(toks, lambda t: t.isin(markers))))
        for lang, markers in LANG_MARKERS.items()
    ]
    best = F.greatest(*[s for _, s in scores])
    out = F.lit("und")
    # reversed so the first language in LANG_MARKERS wins ties
    for lang, s in reversed(scores):
        out = F.when((best > 0) & (s == best), F.lit(lang)).otherwise(out)
    return out


def chars(text: str | Column = "text") -> Column:
    """Character array of the text. `split` on the empty pattern uses
    Java regex semantics (no leading empty match); empties filtered
    for safety."""
    return F.filter(F.split(_c(text), ""), lambda c: c != "")


def char_entropy(text: str | Column = "text") -> Column:
    """Shannon entropy (nats) of the per-document CHARACTER
    distribution — the gibberish / boilerplate / encoding-junk quality
    signal (CCNet-style pipelines use character statistics where a
    token LM is unavailable; near-zero entropy = degenerate repetition,
    unusually high = random bytes).

    Pure higher-order-function expression — map-only, whole-stage
    codegen, no explode, no shuffle, no Python round-trip. Shape
    matters: a naive transform-over-distinct-chars form re-evaluates
    the `split` chain inside every lambda reference (Catalyst performs
    no common-subexpression elimination across HOF lambda bodies —
    measured 7 s WARM on the one-split sf0.1 documents file). Instead
    this is ONE `array_sort` + ONE `aggregate` pass that run-length
    encodes the sorted chars and accumulates sum(k*ln k), finishing
    with entropy = ln n - sum(k ln k)/n (algebraically identical to
    -sum((k/n) ln(k/n))): the text is split exactly once per row,
    O(len log len). Empty or null text -> 0.0.
    """
    cs = F.array_sort(chars(text))
    init = F.struct(
        F.lit("").alias("prev"),
        F.lit(0.0).alias("run"),
        F.lit(0.0).alias("n"),
        F.lit(0.0).alias("s"),
    )

    def merge(acc, c):
        same = c == acc["prev"]
        closed_run = F.when(same | (acc["run"] == 0.0), F.lit(0.0)).otherwise(
            acc["run"] * F.log(acc["run"])
        )
        return F.struct(
            c.alias("prev"),
            F.when(same, acc["run"] + 1.0).otherwise(F.lit(1.0)).alias("run"),
            (acc["n"] + 1.0).alias("n"),
            (acc["s"] + closed_run).alias("s"),
        )

    def finish(acc):
        s_tot = acc["s"] + F.when(acc["run"] > 0.0, acc["run"] * F.log(acc["run"])).otherwise(
            F.lit(0.0)
        )
        return F.when(acc["n"] > 0.0, F.log(acc["n"]) - s_tot / acc["n"]).otherwise(
            F.lit(0.0)
        )

    return F.coalesce(F.aggregate(cs, init, merge, finish), F.lit(0.0))


def content_hash(text: str | Column = "text") -> Column:
    """Cross-engine-stable content hash (md5 hex of normalized text) —
    md5 is identical in Spark and DuckDB, so exact-dedup queries are
    oracle-checkable."""
    norm = F.trim(F.regexp_replace(F.lower(_c(text)), r"\s+", " "))
    return F.md5(norm)


# --------------------------------------------------------------- PII scrub
# Patterns restricted to syntax with IDENTICAL semantics in Java regex
# (Spark) and RE2 (DuckDB): character classes, bounded repetition, \b.
# No lookaround (RE2 has none), no possessive quantifiers.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE_RE = r"\+\d{1,3}-\d{3}-\d{3}-\d{4}"


def pii_counts(text: str | Column = "text") -> tuple[Column, Column, Column]:
    """(n_emails, n_ipv4, n_phones) found in the text. Counted as
    `size(regexp_extract_all(..))` so the DuckDB twin
    (`len(regexp_extract_all(..))`) counts the same non-overlapping
    leftmost matches."""
    t = _c(text)
    return (
        F.size(F.regexp_extract_all(t, F.lit(PII_EMAIL_RE), F.lit(0))),
        F.size(F.regexp_extract_all(t, F.lit(PII_IPV4_RE), F.lit(0))),
        F.size(F.regexp_extract_all(t, F.lit(PII_PHONE_RE), F.lit(0))),
    )


def redact_pii(text: str | Column = "text") -> Column:
    """Replace emails / IPv4s / phone numbers with typed placeholder
    tokens, in a fixed order (email first: an email's domain can
    contain digit runs an IP pattern would otherwise bite into).
    Pure regexp_replace chain — map-only, codegen, no Python."""
    t = _c(text)
    t = F.regexp_replace(t, PII_EMAIL_RE, "<EMAIL>")
    t = F.regexp_replace(t, PII_IPV4_RE, "<IP>")
    t = F.regexp_replace(t, PII_PHONE_RE, "<PHONE>")
    return t
