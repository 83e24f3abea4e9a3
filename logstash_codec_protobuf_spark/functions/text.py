"""Text analysis for training-data pipelines: token counting, quality scoring,
language ID, document fingerprinting.

Each op is one portable template (functions.portable) rendered per dialect, so
the Spark implementation and the DuckDB oracle compute identical values. All
ops are narrow 1:1 projections — at 100 TB they fuse into the document scan
with zero shuffle and zero Python workers.
"""

from __future__ import annotations

from .portable import Dialect

# BPE-ish tokenization: words / numbers / single punctuation marks
BPE_ISH_PATTERN = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"

STOPWORDS = {
    "en": ("the", "a", "of", "and", "is", "to", "in"),
    "de": ("der", "die", "das", "und", "ist", "zu"),
    "fr": ("le", "la", "de", "et", "est", "dans"),
    "es": ("el", "la", "de", "y", "es", "en"),
}


def _in_list(d: Dialect, var: str, words: tuple[str, ...]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"{var} IN ({lst})"


def token_count_ws(d: Dialect, text: str = "text") -> str:
    """Whitespace token count."""
    return f"CAST({d.alen(d.tokens(text))} AS BIGINT)"


def token_count_bpe(d: Dialect, text: str = "text") -> str:
    """BPE-ish regex token count (words + numbers + punctuation marks)."""
    return f"CAST({d.regex_extract_all_count(text, BPE_ISH_PATTERN)} AS BIGINT)"


def alpha_ratio_raw(d: Dialect, text: str = "text") -> str:
    alpha_len = f"length({d.regex_replace_all(text, '[^a-z]', '')})"
    return f"(CAST({alpha_len} AS DOUBLE) / length({text}))"


def alpha_ratio(d: Dialect, text: str = "text") -> str:
    """Fraction of [a-z] characters."""
    return d.trunc6(alpha_ratio_raw(d, text))


def avg_token_len(d: Dialect, text: str = "text") -> str:
    toks = d.tokens(text)
    total = d.fold(d.amap(toks, "t -> CAST(length(t) AS BIGINT)"),
                   "CAST(0 AS BIGINT)", "(acc, x) -> acc + x")
    return d.trunc6(f"CAST({total} AS DOUBLE) / {d.alen(toks)}")


def stopword_ratio_raw(d: Dialect, lang: str = "en", text: str = "text") -> str:
    toks = d.tokens(text)
    hits = d.afilter(toks, f"t -> {_in_list(d, 't', STOPWORDS[lang])}")
    return f"(CAST({d.alen(hits)} AS DOUBLE) / {d.alen(toks)})"


def quality_score(d: Dialect, text: str = "text") -> str:
    """Heuristic quality in [0,1]: alpha density + length saturation + stopword
    presence (the classic cheap pre-filter before expensive dedup)."""
    n_tok = d.alen(d.tokens(text))
    len_sat = f"least(CAST({n_tok} AS DOUBLE) / 100.0, 1.0)"
    return d.trunc6(
        f"0.4 * {alpha_ratio_raw(d, text)} + 0.3 * {len_sat} "
        f"+ 0.3 * {stopword_ratio_raw(d, 'en', text)}"
    )


def lang_hits(d: Dialect, lang: str, text: str = "text") -> str:
    cond = _in_list(d, "t", STOPWORDS[lang])
    hits = d.afilter(d.tokens(text), f"t -> {cond}")
    return f"CAST({d.alen(hits)} AS BIGINT)"


def lang_id(d: Dialect, text: str = "text") -> str:
    """n-gram-free heuristic language ID: argmax of per-language stopword hits,
    deterministic tie-break en > de > fr > es, fallback 'und'."""
    h = {lang: lang_hits(d, lang, text) for lang in STOPWORDS}
    return (
        "CASE "
        f"WHEN {h['en']} >= {h['de']} AND {h['en']} >= {h['fr']} AND {h['en']} >= {h['es']} AND {h['en']} > 0 THEN 'en' "
        f"WHEN {h['de']} >= {h['fr']} AND {h['de']} >= {h['es']} AND {h['de']} > 0 THEN 'de' "
        f"WHEN {h['fr']} >= {h['es']} AND {h['fr']} > 0 THEN 'fr' "
        f"WHEN {h['es']} > 0 THEN 'es' "
        "ELSE 'und' END"
    )


def fingerprint(d: Dialect, text: str = "text") -> str:
    """Whole-document polynomial rolling hash (portable across engines)."""
    return d.poly_hash_str(text)


def prefix_fingerprint(d: Dialect, text: str = "text", n: int = 64) -> str:
    return d.poly_hash_str(f"substring({text}, 1, {n})")


def poly_hash_col(col, prefix_n: int | None = None):
    """Arrow-vectorized twin of poly_hash_str for the Spark side (the SQL
    fold is interpreted per character by Catalyst; the oracle keeps the
    template). Identical integer arithmetic: acc = (acc*31 + ord(ch)) mod
    2^31-1 in character order; ``prefix_n`` hashes only the first n chars
    (== poly_hash_str over substring)."""
    import pandas as pd
    from pyspark.sql import functions as F, types as T

    @F.pandas_udf(T.LongType())
    def _hash(s):
        from .portable import MOD

        out = []
        for t in s:
            if prefix_n is not None:
                t = t[:prefix_n]
            acc = 0
            for ch in t:
                acc = (acc * 31 + ord(ch)) % MOD
            out.append(acc)
        return pd.Series(out)

    return _hash(col)
