"""Text-analysis operators for large-scale training-data pipelines.

All native `pyspark.sql.functions` expressions (JVM, codegen, pushdown-safe)
— designed so a DuckDB oracle can mirror each exactly:

  * token_count      — whitespace tokenization
  * quality_score    — length / punctuation-ratio / stopword-ratio heuristic
  * lang_id          — stopword-hit n-gram heuristic (en/de/fr/unknown)
  * fingerprint      — md5 document fingerprint of normalized text
  * simhash64        — 64-bit SimHash over token md5s (native bit ops; the
                       one SimHash kernel)
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

_STOPWORDS = {
    "en": ["the", "and", "of", "to", "a", "in", "is", "that", "it", "for"],
    "de": ["der", "die", "und", "das", "ist", "nicht", "ein", "mit", "für", "auf"],
    "fr": ["le", "la", "et", "les", "des", "est", "une", "dans", "pour", "que"],
}


def normalized_text(col: Column) -> Column:
    """lower + trim + whitespace collapse (SQL-mirrorable normalization —
    the dedup kernels use the stricter NFC/casefold variant in minhash.py)."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def token_count(col: Column) -> Column:
    t = F.trim(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    ).cast("long")


def punct_ratio(col: Column) -> Column:
    no_punct = F.regexp_replace(col, r"[^\w\s]", "")
    return (F.length(col) - F.length(no_punct)).cast("double") / F.greatest(
        F.length(col).cast("double"), F.lit(1.0)
    )


def _stopword_hits(col: Column, lang: str) -> Column:
    toks = F.split(normalized_text(col), " ")
    hits = F.filter(toks, lambda t: t.isin(*_STOPWORDS[lang]))
    return F.size(hits).cast("double")


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    toks = F.split(normalized_text(col), " ")
    return _stopword_hits(col, lang) / F.greatest(F.size(toks).cast("double"), F.lit(1.0))


def quality_score(col: Column) -> Column:
    """[0,1] heuristic: rewards mid-length docs, penalizes punctuation spam,
    rewards stopword presence.  Deterministic arithmetic only."""
    n = token_count(col).cast("double")
    length_term = F.least(n / F.lit(20.0), F.lit(1.0))
    punct_term = F.lit(1.0) - F.least(punct_ratio(col) * F.lit(4.0), F.lit(1.0))
    stop_term = F.least(stopword_ratio(col) * F.lit(5.0), F.lit(1.0))
    return F.round((length_term + punct_term + stop_term) / F.lit(3.0), 6)


def lang_id(col: Column) -> Column:
    """Pick the language whose stopword list hits most (ties -> unknown)."""
    en, de, fr = (_stopword_hits(col, l) for l in ("en", "de", "fr"))
    best = F.greatest(en, de, fr)
    return (
        F.when(best == 0, F.lit("unknown"))
        .when((en == best) & (de < best) & (fr < best), F.lit("en"))
        .when((de == best) & (en < best) & (fr < best), F.lit("de"))
        .when((fr == best) & (en < best) & (de < best), F.lit("fr"))
        .otherwise(F.lit("unknown"))
    )


def fingerprint(col: Column) -> Column:
    """md5 hex of normalized text — cross-engine deterministic doc id."""
    return F.md5(normalized_text(col).cast("binary"))


def simhash64(col: Column) -> Column:
    """64-bit SimHash: per token, take the top 64 bits of md5(token); sum
    signed bit votes; sign -> bit.  Pure native expressions (conv/bit ops),
    mirrorable in DuckDB with the same arithmetic."""
    toks = F.array_distinct(F.split(normalized_text(col), " "))
    tok_hash = F.transform(
        toks, lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10).cast("long")
    )
    bits = []
    for b in range(60):  # 15 hex chars = 60 bits
        votes = F.aggregate(
            tok_hash,
            F.lit(0),
            lambda acc, h: acc
            + F.when(F.shiftrightunsigned(h, b).bitwiseAND(F.lit(1)) == 1, F.lit(1)).otherwise(
                F.lit(-1)
            ),
        )
        bits.append(F.when(votes > 0, F.lit(2 ** b).cast("long")).otherwise(F.lit(0).cast("long")))
    out = bits[0]
    for c in bits[1:]:
        out = out + c
    return out
