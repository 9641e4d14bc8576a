"""Web-page text handling: header/body split + text-analysis functions.

The graft input (BASELINE.json input_hint) is a table of Common-Crawl
style pages ``(url, warc_ts, html:binary, text, lang)``.  Our ``html``
payload is UTF-8 bytes whose FIRST line is an S3-access-log-style header
record and whose remainder is the document body; ``extract_text`` must
reproduce ``text`` **byte-identically** per url (north-rule invariant).

All functions here are native Column expressions (JVM codegen); nothing
crosses into Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# A small English function-word set for the language-ID / quality
# heuristics (public-knowledge stopwords, not tied to any system).
EN_STOPWORDS: tuple[str, ...] = (
    "the", "of", "and", "to", "a", "in", "is", "it", "you", "that",
    "he", "was", "for", "on", "are", "with", "as", "his", "they", "at",
    "be", "this", "have", "from", "or", "one", "had", "by", "word", "but",
    "not", "what", "all", "were", "we", "when", "your", "can", "said",
    "there", "use", "an", "each", "which", "she", "do", "how", "their", "if",
)

DE_STOPWORDS: tuple[str, ...] = (
    "der", "die", "das", "und", "ist", "nicht", "mit", "ein", "eine", "zu",
    "den", "von", "im", "auf", "für", "als", "auch", "sich", "des", "dem",
)


def html_to_string(html: Column) -> Column:
    """Decode the UTF-8 html payload to a string column."""
    return F.decode(html, "UTF-8")


def header_line(html_str: Column) -> Column:
    """First line of the page payload = the embedded log-style record."""
    return F.substring_index(html_str, "\n", 1)


def with_header_and_text(pages: DataFrame, html_col: str = "html") -> DataFrame:
    """Add ``header`` (log record) and ``extracted_text`` columns natively."""
    s = html_to_string(F.col(html_col))
    df = pages.withColumn("_html_str", s)
    df = df.withColumn("header", header_line(F.col("_html_str")))
    df = df.withColumn(
        "extracted_text",
        F.when(
            F.instr(F.col("_html_str"), "\n") > 0,
            F.expr("substring(_html_str, instr(_html_str, '\\n') + 1)"),
        ).otherwise(F.lit("")),
    )
    return df.drop("_html_str")


# ---------------------------------------------------------------------------
# Text analysis (training-data pipeline operators)
# ---------------------------------------------------------------------------


def tokens(text: Column) -> Column:
    """Whitespace tokenization (empty tokens removed)."""
    return F.filter(F.split(text, r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: word pieces + digits + punctuation runs."""
    return F.size(
        F.filter(
            F.split(text, r"(?=[^A-Za-z0-9])|(?<=[^A-Za-z0-9])"),
            lambda t: (t != "") & (t != " "),
        )
    )


def _word_hit_regex(words: tuple[str, ...]) -> str:
    """Pattern matching a whitespace-delimited token equal to any word.

    ``(?:^|\\s)(?:w1|w2|...)(?=\\s|$)`` counts exactly the tokens an
    explicit split-then-filter would keep: the leading boundary consumes
    at most one separator, the trailing boundary is a lookahead, so
    adjacent stopwords ("of the") both count.  Each word is
    regex-escaped — callers may pass arbitrary word lists, and a bare
    metacharacter would silently break the split-then-filter
    equivalence.
    """
    import re

    return r"(?:^|\s)(?:" + "|".join(re.escape(w) for w in words) + r")(?=\s|$)"


def stopword_hits(text: Column, stopwords: tuple[str, ...] = EN_STOPWORDS) -> Column:
    """Stopword-token occurrences via ONE regex scan of the string.

    Equivalent to ``size(filter(tokens(lower(text)), isin(...)))`` but
    ~10x faster: the HOF form materializes a token array and evaluates a
    50-way isin per element in interpreted mode, and every reference to
    it in a surrounding expression re-evaluates the subtree.
    """
    return F.regexp_count(F.lower(text), F.lit(_word_hit_regex(stopwords)))


def stopword_ratio(text: Column) -> Column:
    n_toks = F.regexp_count(text, F.lit(r"\S+"))
    return F.when(
        n_toks > 0, stopword_hits(text) / n_toks
    ).otherwise(F.lit(0.0))


def punct_ratio(text: Column) -> Column:
    n = F.length(text)
    punct = n - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    return F.when(n > 0, punct / n).otherwise(F.lit(0.0))


def quality_score(text: Column) -> Column:
    """Deterministic [0,1] quality heuristic: length, punctuation,
    stopword presence — the shape of C4/Gopher-style quality rules."""
    len_score = F.least(F.length(text) / F.lit(500.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(text) * 4.0, F.lit(1.0))
    punct_penalty = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(text) * 4.0)
    return (len_score + stop_score + punct_penalty) / 3.0


def lang_id(text: Column) -> Column:
    """Tiny deterministic language-ID heuristic: EN vs DE stopword hits.

    Two regexp_count scans; codegen subexpression elimination reuses
    them across the CASE branches (the array-HOF formulation was 10x
    slower, see :func:`stopword_hits`).
    """
    en = stopword_hits(text, EN_STOPWORDS)
    de = stopword_hits(text, DE_STOPWORDS)
    return (
        F.when((en == 0) & (de == 0), F.lit("unknown"))
        .when(en >= de, F.lit("en"))
        .otherwise(F.lit("de"))
    )


# ---------------------------------------------------------------------------
# PII detection / redaction
# ---------------------------------------------------------------------------
#
# RE2-compatible (no lookaround, no backreferences) so the identical
# pattern strings run in Spark (Java regex) and DuckDB (RE2) with the
# same match semantics — required for cross-engine oracle parity.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\d{3}-\d{3}-\d{4}"


def pii_email_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(PII_EMAIL_RE))


def pii_phone_count(text: Column) -> Column:
    return F.regexp_count(text, F.lit(PII_PHONE_RE))


def pii_redact(text: Column) -> Column:
    """Replace every email / phone match with a typed placeholder.

    Email first, phone second — this order is the safe one: the phone
    pattern (digits and dashes) can never match inside an inserted
    ``<EMAIL>`` token, whereas phone-first would rewrite a phone-shaped
    span inside an email local part (``555-867-5309@example.com`` ->
    ``<PHONE>@example.com``), break the email match, and leave the
    ``@domain`` remnant unredacted (ADVICE r3).  Overlap caveat: for
    such a span the email pass consumes the whole address, so
    ``pii_phone_count`` (computed on the raw text) can exceed the
    number of ``<PHONE>`` tokens in the output — the counts are match
    counts on the input, not placeholder counts on the output.  Pure
    ``regexp_replace`` — native codegen, no UDF, streams at scan speed
    over 10^12 docs.
    """
    no_email = F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>")
    return F.regexp_replace(no_email, PII_PHONE_RE, "<PHONE>")
