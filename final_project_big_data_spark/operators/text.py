"""Text expressions over ``documents.text``: the one home of each, written
as the Spark ``Column`` and, beside it, the DuckDB SQL fragment its
oracles run (the ``plans/rounding.round_half_up``/``_sql`` pattern). A
helper that returns a ``Column`` is an expression tree Catalyst sees
whole, so sharing it adds no runtime layer.

- ``words``: whitespace tokens of the trimmed ``text`` column.
- ``word_ngrams``: the space-joined n-word windows of the word array
  column ``w``; ``ngram_transform`` owns the short-document guard.
- ``md5_int``: an integer read from a hex window of an md5 digest — the
  hash family behind MinHash, SimHash, Bloom positions, CDC boundaries,
  count-min rows and every deterministic sample, so both engines compute
  the identical hashes.
- document scores: ``quality`` (with ``n_words``/``stop_ratio``),
  ``lang_scores``/``lang_argmax`` and ``fp_norm``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

STOPWORDS = ["the", "a", "and", "of", "to"]
_STOP_RE = r"\b(" + "|".join(STOPWORDS) + r")\b"

# Marker-word profiles per language: deterministic placeholders drawn from
# the fixture vocabulary (real profiles are data; the operator shape is what
# scales). Declaration order breaks argmax ties.
_LANG_MARKERS: dict[str, str] = {
    "en": r"\b(the|a|fast|slow)\b",
    "es": r"\b(customer|value|data)\b",
    "de": r"\b(group|order|window)\b",
    "fr": r"\b(join|merge|part)\b",
    "zh": r"\b(scan|hash|key)\b",
}


def words() -> Column:
    return F.split(F.trim(F.col("text")), r"\s+")


def words_sql() -> str:
    return r"string_split_regex(trim(text), '\s+')"


def _at(k: int) -> str:
    return "i" if k == 0 else f"i + {k}"


def ngram_transform(n: int, body: str) -> Column:
    """``transform`` of ``body`` over the start index ``i`` of every n-word
    window of the word array ``w``; empty when ``size(w) < n``.

    The guard is not optional: Spark's ``sequence(1, 0)`` counts DOWN to
    [1, 0] (DuckDB's ``generate_series(1, 0)`` is empty), so an unguarded
    short document evaluates an out-of-range index and aborts the job.
    """
    return F.expr(
        f"IF(size(w) < {n}, array(),"
        f" transform(sequence(1, size(w) - {n - 1}), i -> {body}))"
    )


def word_ngrams(n: int) -> Column:
    """The n-word windows of ``w``, each joined by single spaces."""
    parts = ", ' ', ".join(f"element_at(w, {_at(k)})" for k in range(n))
    return ngram_transform(n, f"concat({parts})")


def word_ngrams_sql(n: int) -> str:
    parts = " || ' ' || ".join(f"w[{_at(k)}]" for k in range(n))
    return f"list_transform(generate_series(1, len(w) - {n - 1}), i -> {parts})"


def md5_int(col: Column | str, start: int = 1, width: int = 8) -> Column:
    """The ``width`` hex digits of ``md5(col)`` from ``start`` as a long
    (width ≤ 15 keeps it non-negative)."""
    return F.conv(F.substring(F.md5(col), start, width), 16, 10).cast("long")


def md5_int_sql(expr: str, start: int | str = 1, width: int = 8) -> str:
    return f"CAST('0x' || substr(md5({expr}), {start}, {width}) AS BIGINT)"


def n_words() -> Column:
    return F.size(words())


def n_words_sql() -> str:
    return f"len({words_sql()})"


def stop_ratio() -> Column:
    """Stopword hits per whitespace token."""
    return F.regexp_count(F.col("text"), F.lit(_STOP_RE)) * 1.0 / n_words()


def stop_ratio_sql() -> str:
    return f"len(regexp_extract_all(text, '{_STOP_RE}')) * 1.0 / {n_words_sql()}"


def quality() -> Column:
    """Heuristic document quality, min(1, words/100) · (1 − stop_ratio),
    rounded to 4 places."""
    return F.round(F.least(F.lit(1.0), n_words() / 100.0) * (1.0 - stop_ratio()), 4)


def quality_sql() -> str:
    return f"round(least(1.0, {n_words_sql()} / 100.0) * (1.0 - {stop_ratio_sql()}), 4)"


def lang_scores() -> list[Column]:
    """One ``score_<lang>`` column per language: its marker-word hits."""
    return [
        F.regexp_count(F.col("text"), F.lit(pat)).alias(f"score_{lang}")
        for lang, pat in _LANG_MARKERS.items()
    ]


def lang_scores_sql() -> str:
    return ", ".join(
        f"CAST(len(regexp_extract_all(text, '{pat}')) AS INT) AS score_{lang}"
        for lang, pat in _LANG_MARKERS.items()
    )


def lang_argmax() -> Column:
    """The first language, in declaration order, whose ``score_<lang>``
    column (from ``lang_scores``) is the row's maximum."""
    best = F.greatest(*[F.col(f"score_{lang}") for lang in _LANG_MARKERS])
    pred = None
    for lang in _LANG_MARKERS:
        cond = F.col(f"score_{lang}") == best
        pred = F.when(cond, lang) if pred is None else pred.when(cond, lang)
    return pred


def lang_argmax_sql() -> str:
    best = ", ".join(f"score_{lang}" for lang in _LANG_MARKERS)
    whens = " ".join(
        f"WHEN score_{lang} = greatest({best}) THEN '{lang}'" for lang in _LANG_MARKERS
    )
    return f"CASE {whens} END"


def fp_norm() -> Column:
    """md5 of the lower-cased text with each whitespace run made one space."""
    return F.md5(F.lower(F.regexp_replace("text", r"\s+", " ")))


def fp_norm_sql() -> str:
    return r"md5(lower(regexp_replace(text, '\s+', ' ', 'g')))"
