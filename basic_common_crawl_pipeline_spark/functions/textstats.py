"""Text-analysis operators for training-data pipelines: normalization,
token counting, quality scoring, language-ID heuristic, fingerprinting.

All pure built-in ``pyspark.sql.functions`` Column expressions (JVM-side,
whole-stage codegen — no Python in the hot path) with DuckDB-expressible
semantics so every operator has a SQL oracle. T3 (whitespace
normalization) reproduces `golang/worker/worker.go:48`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from .numeric import round4

# BPE-ish tokenizer: word runs or single non-space punctuation. Same RE2/
# Java-compatible pattern used in the DuckDB oracles.
TOKEN_PATTERN = r"\w+|[^\w\s]"

STOPWORDS = ("the", "a", "of", "and", "to", "in", "is")

# crude n-gram language markers: language → marker words
LANG_MARKERS = {
    "en": ("the", "and", "of"),
    "de": ("der", "und", "das"),
    "fr": ("le", "et", "les"),
    "es": ("el", "que", "de"),
}


def _col(c: Column | str) -> Column:
    return F.col(c) if isinstance(c, str) else c


def norm_text(text: Column | str) -> Column:
    """T3: collapse whitespace runs to single spaces + trim."""
    return F.regexp_replace(F.trim(_col(text)), r"\s+", " ")


def word_tokens(text: Column | str) -> Column:
    return F.split(norm_text(text), " ")


def token_count(text: Column | str) -> Column:
    """Whitespace token count."""
    return F.size(word_tokens(text))


def bpe_token_count(text: Column | str) -> Column:
    """Regex (BPE-ish) token count: words + punctuation marks."""
    return F.size(F.regexp_extract_all(_col(text), F.lit(TOKEN_PATTERN), 0))


def stopword_ratio(text: Column | str) -> Column:
    toks = word_tokens(text)
    stops = F.size(
        F.filter(toks, lambda t: F.lower(t).isin(*STOPWORDS))
    )
    return round4((stops / F.greatest(F.size(toks), F.lit(1))))


def punct_ratio(text: Column | str) -> Column:
    """Fraction of characters that are not word chars or whitespace."""
    t = norm_text(text)
    punct = F.length(t) - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    return round4((punct / F.greatest(F.length(t), F.lit(1))))


def avg_token_len(text: Column | str) -> Column:
    toks = word_tokens(text)
    total = F.aggregate(
        toks, F.lit(0).cast("long"), lambda acc, t: acc + F.length(t)
    )
    return round4((total / F.greatest(F.size(toks), F.lit(1))))


def langid_scores(text: Column | str) -> dict[str, Column]:
    """Marker-word hit count per language over the token list."""
    toks = word_tokens(text)
    return {
        lang: F.size(F.filter(toks, lambda t: F.lower(t).isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def langid_best(text: Column | str) -> Column:
    """argmax language by marker hits, ties broken alphabetically,
    'und' (undetermined) when no marker hits."""
    scores = langid_scores(text)
    best_score = F.greatest(*scores.values())
    out = F.lit("und")
    for lang in sorted(scores, reverse=True):
        out = F.when(scores[lang] == best_score, F.lit(lang)).otherwise(out)
    return F.when(best_score > 0, out).otherwise(F.lit("und"))


def word_ngrams(text: Column | str, n: int = 3) -> Column:
    """Array of word n-grams of the normalized text (shingles)."""
    toks = word_tokens(text)
    # NB: F.sequence(1, 0) yields a DESCENDING [1, 0] — guard short docs.
    idx = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.array_join(F.slice(toks, i, n), " ")
    )


# Rabin-Karp rolling fingerprint: window polynomial hash with base 257
# mod (2^31 - 1). k=7 keeps the raw polynomial sum < 2^63 (127·257^6·7/127
# ≈ 3.7e16), so ONE mod at the end suffices — exact int64 arithmetic in
# both engines, no sequential fold needed.
RK_K = 7
RK_BASE = 257
RK_MOD = 2_147_483_647
_RK_POWERS = [RK_BASE ** (RK_K - 1 - j) for j in range(RK_K)]


def rolling_hashes(text: Column | str, k: int = RK_K) -> Column:
    """Array of Rabin-Karp window hashes over the normalized text's
    characters (ASCII corpora: char == byte). Empty array for texts
    shorter than the window."""
    s = norm_text(text)
    starts = F.when(
        F.length(s) >= k, F.sequence(F.lit(1), F.length(s) - (k - 1))
    ).otherwise(F.array().cast("array<int>"))

    def window_hash(i):
        total = F.lit(0).cast("long")
        for j in range(k):
            total = total + (
                F.ascii(F.substring(s, i + j, 1)).cast("long")
                * F.lit(_RK_POWERS[j]).cast("long")
            )
        return total % F.lit(RK_MOD).cast("long")

    return F.transform(starts, window_hash)


def rolling_fingerprint(text: Column | str, k: int = RK_K) -> Column:
    """Winnowing-style rolling-hash document fingerprint: the min window
    hash (-1 for texts shorter than one window)."""
    return F.coalesce(
        F.array_min(rolling_hashes(text, k)), F.lit(-1).cast("long")
    )


def repetition_stats(text: Column | str, n: int = 2) -> Column:
    """Gopher-style repetition measures over word ``n``-grams as ONE
    struct column ``(n_grams, n_distinct, top_count)``: total gram
    occurrences, distinct grams, and the most frequent gram's count —
    all from a single ``F.aggregate`` fold over the SORTED gram array
    (longest equal-run = top count; run boundaries = distinct count).
    Per-row JVM array ops, zero shuffles at any corpus size, and pure
    integers so downstream repetition gates stay exact cross-engine.

    One fold on purpose: higher-order functions are interpreted (no
    whole-stage-codegen subexpression elimination), so three separate
    stat expressions each rebuild the gram array — measured 2× slower
    at sf0.1. Project this struct ONCE (``withColumn``) and select its
    fields; re-deriving fields from separate ``repetition_stats`` calls
    re-pays the fold per field."""
    grams = word_ngrams(text, n)
    zero = F.lit(0).cast("long")
    init = F.struct(
        F.lit("").alias("prev"),
        zero.alias("run"),
        zero.alias("best"),
        zero.alias("n"),
        zero.alias("d"),
    )

    def step(acc, g):
        # n == 0 guards the first element: no sentinel string can
        # collide with a real gram (an empty-string gram exists at n=1)
        fresh = (acc["n"] == 0) | (g != acc["prev"])
        run = F.when(fresh, F.lit(1).cast("long")).otherwise(acc["run"] + 1)
        return F.struct(
            g.alias("prev"),
            run.alias("run"),
            F.greatest(acc["best"], run).alias("best"),
            (acc["n"] + 1).alias("n"),
            (acc["d"] + F.when(fresh, 1).otherwise(0).cast("long")).alias(
                "d"
            ),
        )

    return F.aggregate(
        F.array_sort(grams),
        init,
        step,
        lambda acc: F.struct(
            acc["n"].alias("n_grams"),
            acc["d"].alias("n_distinct"),
            acc["best"].alias("top_count"),
        ),
    )


def doc_fingerprint(text: Column | str, n: int = 4) -> Column:
    """Winnowing-style document fingerprint: min md5 over word n-grams
    (falls back to md5 of the whole normalized text for short docs)."""
    grams = word_ngrams(text, n)
    return F.coalesce(
        F.array_min(F.transform(grams, lambda g: F.md5(g))),
        F.md5(norm_text(text)),
    )


# ---------------------------------------------------------------------------
# PII redaction (training-data release hygiene). The patterns are written
# in the common subset of Java regex (Spark) and RE2 (DuckDB) — character
# classes, bounded repetition and \b only; no backreferences/lookaround —
# so the DuckDB oracle can run the IDENTICAL pattern strings and the two
# engines agree by construction. All JVM-side regexp_replace/regexp_count:
# no Python in the hot path, whole-stage codegen throughout.
# ---------------------------------------------------------------------------

PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\+\d{1,2}-\d{3}-\d{4}"
PII_IPV4_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


def redact_pii(text: Column | str) -> Column:
    """Mask emails, then phone numbers, then IPv4 addresses with typed
    placeholder tokens. Order matters and is fixed: the email pattern can
    contain dotted digit runs (user.42.x@host), so it must be consumed
    before the IP pass; the replacements themselves introduce no digits,
    so later passes can never match inside an earlier placeholder."""
    c = _col(text)
    c = F.regexp_replace(c, PII_EMAIL_RE, "<EMAIL>")
    c = F.regexp_replace(c, PII_PHONE_RE, "<PHONE>")
    return F.regexp_replace(c, PII_IPV4_RE, "<IP>")


def pii_counts(text: Column | str) -> Column:
    """struct(n_emails, n_phones, n_ips) — match counts on the RAW text
    (before redaction), for release-audit aggregation."""
    c = _col(text)
    return F.struct(
        F.regexp_count(c, F.lit(PII_EMAIL_RE)).cast("long").alias("n_emails"),
        F.regexp_count(c, F.lit(PII_PHONE_RE)).cast("long").alias("n_phones"),
        F.regexp_count(c, F.lit(PII_IPV4_RE)).cast("long").alias("n_ips"),
    )
