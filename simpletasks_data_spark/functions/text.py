"""Text-analysis primitives for large-scale training-data pipelines.

All native Column expressions (JVM-side, codegen'd): tokenization, counts,
quality scoring, n-gram heuristic language ID, and content fingerprints.
Normalization is deliberately simple (lowercase, strip non-alphanumerics)
and defined once so every operator — and the external SQL oracles — share
the exact same token stream.

Tokenize once. Every function that reads tokens (``token_count``,
``distinct_token_count``, ``stopword_ratio``, ``mean_token_len``,
``quality_score``, ``lang_scores``, ``lang_id``, ``fingerprint``,
``token_ngrams``, ``repetition_signals``) takes the token array, not the
text: the caller projects ``tokens(text)`` to a column once and passes
that column (``token_count``, ``distinct_token_count`` and
``fingerprint`` read their input once, so ``tokens(text)`` itself is
fine there). ``punct_ratio`` reads characters and takes the text. Two
Catalyst facts make this the contract:

- Repeated sub-trees are not shared in the plan, and expressions inside
  higher-order-function lambdas are not common-subexpression-eliminated
  at all, so each ``tokens(text)`` inside an expression is one more copy
  of the regex chain, evaluated per row (``lang_id`` reads its input in
  every score). ``CollapseProject`` does not inline a
  non-cheap alias that its consumer references more than once, so a
  projected ``toks`` column stays one evaluation per row.
- A filter on a derived column is pushed below the projection that
  defines it, with the aliases substituted in: a filter on ``lang``
  next to its projection copies the whole language-ID tree, tokenizer
  included, into the pushed-down filter. Filter on columns that are
  cheap to recompute, or after a shuffle that materializes the column.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = [
    "normalize_text",
    "tokens",
    "token_count",
    "distinct_token_count",
    "token_ngrams",
    "repetition_signals",
    "char_shingles",
    "punct_ratio",
    "stopword_ratio",
    "mean_token_len",
    "quality_score",
    "lang_scores",
    "lang_id",
    "fingerprint",
    "STOPWORDS_EN",
    "LANG_LEXICONS",
]

STOPWORDS_EN = [
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it", "on", "for",
    "with", "as", "at", "by", "this", "that", "be", "are",
]

# Tiny per-language function-word lexicons for the n-gram/stopword language
# heuristic. Deliberately small + fixed so the oracle SQL can embed them.
LANG_LEXICONS = {
    "en": ["the", "and", "of", "to", "in", "is", "that", "for", "with", "on"],
    "fr": ["le", "la", "les", "et", "de", "des", "un", "une", "est", "dans"],
    "de": ["der", "die", "das", "und", "ist", "ein", "eine", "mit", "von", "zu"],
    "es": ["el", "la", "los", "las", "y", "de", "que", "es", "un", "una"],
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def normalize_text(col: Column | str) -> Column:
    """lowercase; non-[a-z0-9] -> space; squeeze + trim spaces."""
    c = F.lower(_c(col))
    c = F.regexp_replace(c, "[^a-z0-9 ]", " ")
    c = F.regexp_replace(c, " +", " ")
    return F.trim(c)


def tokens(col: Column | str) -> Column:
    """array<string> of normalized tokens (no empties)."""
    return F.filter(F.split(normalize_text(col), " "), lambda x: x != "")


def token_count(toks: Column | str) -> Column:
    # array_size, not size: NULL for a NULL array (non-ANSI size is -1),
    # as the SQL oracles' len()
    return F.array_size(_c(toks))


def distinct_token_count(toks: Column | str) -> Column:
    return F.array_size(F.array_distinct(_c(toks)))


def token_ngrams(toks: Column | str, n: int) -> Column:
    """Word n-grams (space-joined) of an ALREADY-materialized token array.
    Same HOF caveat as ``char_shingles_from_norm``: pass a column, not the
    tokenize expression."""
    t = _c(toks)
    # guard: Spark's sequence(1, 0) counts DOWN ([1, 0]) — short docs must
    # yield an empty n-gram array, not two bogus ones
    idx = F.when(
        F.size(t) >= n, F.sequence(F.lit(1), F.size(t) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idx, lambda i: F.concat_ws(" ", *[F.element_at(t, i + j) for j in range(n)])
    )


def repetition_signals(toks: Column | str, bigrams: Column | str, trigrams: Column | str) -> dict:
    """Gopher-style per-document repetition signals — all MAP-ONLY array
    expressions, no explode, no shuffle (the 100 TB shape: embarrassingly
    parallel; the O(k²) ``array_distinct``/mode loops are interpreted but
    k is tokens-per-doc, not corpus size). ALL three inputs must be
    already-materialized columns (HOF lambdas are not CSE'd — an inline
    ``token_ngrams`` expression would rebuild the n-gram array once per
    element of the mode loop). Returns a dict of named Columns:

    - ``dup_token_frac``: 1 - distinct/total tokens (type/token ratio
      complement — high means the doc repeats its vocabulary);
    - ``top_bigram_frac``: share of bigram slots taken by the single most
      frequent bigram (Gopher's "fraction of characters in the most
      common n-gram", token-denominated);
    - ``dup_trigram_frac``: 1 - distinct/total trigrams (Gopher's
      "fraction of duplicated n-grams").

    Fractions are NULL when the doc is too short to have the n-gram.
    """
    t, bg, tg = _c(toks), _c(bigrams), _c(trigrams)
    n = F.size(t)
    top_bg = F.array_max(
        F.transform(F.array_distinct(bg), lambda x: F.size(F.filter(bg, lambda y: y == x)))
    )
    frac = lambda num, den: F.when(den > 0, F.round(num.cast("double") / den, 4))  # noqa: E731
    return {
        "dup_token_frac": frac(n - F.size(F.array_distinct(t)), n),
        "top_bigram_frac": frac(top_bg, F.size(bg)),
        "dup_trigram_frac": frac(F.size(tg) - F.size(F.array_distinct(tg)), F.size(tg)),
    }


def char_shingles_from_norm(norm: Column | str, n: int = 5, distinct: bool = True) -> Column:
    """Character n-grams of an ALREADY-normalized text column, distinct by
    default (set semantics for Jaccard). Pass ``distinct=False`` where the
    consumer is duplicate-insensitive (MinHash takes a min over the
    multiset, which equals the min over the set) — ``array_distinct`` is
    an interpreted O(k²) string-compare loop and dominates the shingle
    cost. Important: expressions inside higher-order-function lambdas are
    not CSE'd — pass a materialized column, not the normalize expression,
    or the regex chain re-evaluates per array element (O(len²) regex
    work)."""
    c = _c(norm)
    idx = F.sequence(F.lit(1), F.greatest(F.length(c) - F.lit(n - 1), F.lit(1)))
    grams = F.transform(idx, lambda i: F.substring(c, i, n))
    return F.array_distinct(grams) if distinct else grams


def char_shingles(col: Column | str, n: int = 5) -> Column:
    """Distinct character n-grams of the normalized text (the unit for
    MinHash / Jaccard dedup). Short texts yield the whole string. Prefer
    projecting ``normalize_text`` to a column first and calling
    ``char_shingles_from_norm`` (see its docstring)."""
    return char_shingles_from_norm(normalize_text(col), n)


def punct_ratio(col: Column | str) -> Column:
    """Fraction of non-space characters that are not alphanumeric."""
    c = _c(col)
    nospace = F.regexp_replace(c, " ", "")
    nonalnum = F.regexp_replace(nospace, "[a-zA-Z0-9]", "")
    return F.when(
        F.length(nospace) > 0, F.length(nonalnum).cast("double") / F.length(nospace)
    ).otherwise(F.lit(0.0))


def stopword_ratio(toks: Column | str) -> Column:
    t = _c(toks)
    stops = F.size(F.filter(t, lambda x: x.isin(*STOPWORDS_EN)))
    return F.when(F.size(t) > 0, stops.cast("double") / F.size(t)).otherwise(F.lit(0.0))


def mean_token_len(toks: Column | str) -> Column:
    t = _c(toks)
    total = F.aggregate(t, F.lit(0), lambda acc, x: acc + F.length(x))
    return F.when(F.size(t) > 0, total.cast("double") / F.size(t)).otherwise(F.lit(0.0))


def quality_score(toks: Column | str, text: Column | str) -> Column:
    """Heuristic [0,1] quality: enough tokens, sane mean word length, some
    stopwords, little punctuation. Mirrors the shape of common LLM-corpus
    quality filters (length/punct/stopword gates) as one score. ``toks``
    is the token array of ``text``; the punctuation term reads ``text``."""
    tc = token_count(toks).cast("double")
    len_ok = F.least(tc / F.lit(20.0), F.lit(1.0))
    mtl = mean_token_len(toks)
    mtl_ok = F.when((mtl >= 3) & (mtl <= 10), F.lit(1.0)).otherwise(F.lit(0.5))
    stop_ok = F.least(stopword_ratio(toks) * 4, F.lit(1.0))
    punct_ok = F.lit(1.0) - F.least(punct_ratio(text) * 4, F.lit(1.0))
    return F.round((len_ok + mtl_ok + stop_ok + punct_ok) / 4, 4)


def lang_scores(toks: Column | str) -> list[tuple[str, Column]]:
    t = _c(toks)
    out = []
    for lang, lex in LANG_LEXICONS.items():
        hits = F.size(F.filter(t, lambda x: x.isin(*lex)))
        score = F.when(F.size(t) > 0, hits.cast("double") / F.size(t)).otherwise(F.lit(0.0))
        out.append((lang, score))
    return out


def lang_id(toks: Column | str) -> Column:
    """argmax language by lexicon hit-rate; 'und' when no hits. Ties break
    by the fixed lexicon order (en, fr, de, es). One ``greatest`` over
    ``(score, rank, lang)`` structs, rank falling in lexicon order, so
    each score appears once; an ``(0.0, top rank, 'und')`` entry wins
    whenever the best score is 0 (scores are never negative)."""
    scores = [("und", F.lit(0.0))] + lang_scores(toks)
    return F.greatest(
        *[
            F.struct(s.alias("score"), F.lit(-i).alias("rank"), F.lit(lang).alias("lang"))
            for i, (lang, s) in enumerate(scores)
        ]
    )["lang"]


def fingerprint(toks: Column | str) -> Column:
    """Content fingerprint: md5 of the sorted distinct token set — robust to
    token order and duplication (bag-of-words identity)."""
    return F.md5(F.concat_ws(" ", F.sort_array(F.array_distinct(_c(toks)))))
