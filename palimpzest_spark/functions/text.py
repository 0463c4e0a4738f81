r"""Text analysis for training-data pipelines: language-ID, quality scoring,
token counting, fingerprinting.

All of these are pure column expressions (JVM-side, codegen'd — no Python in
the hot path). To keep the engine and the DuckDB oracle from drifting, each
op is defined ONCE as an SQL expression template rendered for either dialect
(used via ``F.expr`` on the Spark side and verbatim in ``oracle_sql()``).

Dialect divergences handled by explicit ``__TOKEN__`` replacement (never
``str.format`` — regex braces collide with it):
- list length:      Spark ``size`` / DuckDB ``len``
- string split:     Spark ``split`` / DuckDB ``string_split``
- replace-all flag: DuckDB ``regexp_replace`` needs ``'g'``; Spark rejects it
- regex literals:   Spark SQL string literals process backslash escapes, so a
  regex ``\b`` is written ``'\\b'``; DuckDB strings are standard-SQL literal,
  so it is written ``'\b'``.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_TOKENS = {
    "spark": {"__LEN__": "size", "__SPLIT__": "split", "__G__": ""},
    "duckdb": {"__LEN__": "len", "__SPLIT__": "string_split", "__G__": ", 'g'"},
}


def round_sql(expr: str, ndigits: int = 4) -> str:
    """Engine-agnostic HALF_UP rounding for non-negative doubles.

    ``round()`` itself diverges across engines at exact .5 boundaries (Spark
    rounds doubles half-up, DuckDB half-to-even), which flips value hashes;
    ``floor(x*10^n + 0.5)/10^n`` is identical everywhere.
    """
    scale = 10 ** ndigits
    return (
        f"floor(({expr}) * cast({scale} as double) + cast(0.5 as double))"
        f" / cast({scale} as double)"
    )


def _sql_regex(pat: str, dialect: str) -> str:
    """Render a raw regex into an SQL string literal for the dialect."""
    body = pat.replace("\\", "\\\\") if dialect == "spark" else pat
    return "'" + body + "'"


def render(template: str, col: str, dialect: str, regexes: dict[str, str] | None = None) -> str:
    out = template.replace("__COL__", col)
    for tok, val in _TOKENS[dialect].items():
        out = out.replace(tok, val)
    for tok, pat in (regexes or {}).items():
        out = out.replace(tok, _sql_regex(pat, dialect))
    return out


# --- token counting -----------------------------------------------------------

# whitespace tokenization + a BPE-ish sub-word estimate (~1 extra token per
# 16 alphanumeric chars — public rule-of-thumb calibration for BPE vocabs).
TOKEN_COUNT_TPL = (
    "__LEN__(__SPLIT__(trim(__COL__), ' ')) "
    "+ cast(floor(length(regexp_replace(__COL__, __RX_NONALNUM__, ''__G__)) / 16) as bigint)"
)
WORD_COUNT_TPL = "__LEN__(__SPLIT__(trim(__COL__), ' '))"

_RX = {
    "__RX_NONALNUM__": r"[^A-Za-z0-9]",
    "__RX_PUNCT__": r"[.,;:!?]",
    "__RX_DIGIT__": r"[0-9]",
    "__RX_STOPWORD__": r"\b(the|a|of|to|and|is|in|it|on|for)\b",
    "__RX_CJK__": r"[\x{4e00}-\x{9fff}]",
}

# --- quality scoring ------------------------------------------------------------

QUALITY_PARTS = {
    "n_words": "__LEN__(__SPLIT__(trim(__COL__), ' '))",
    "avg_word_len": round_sql(
        "cast(length(replace(__COL__, ' ', '')) as double) / "
        "__LEN__(__SPLIT__(trim(__COL__), ' '))"
    ),
    "stopword_ratio": round_sql(
        "cast(__LEN__(regexp_extract_all(lower(__COL__), __RX_STOPWORD__)) as double)"
        " / __LEN__(__SPLIT__(trim(__COL__), ' '))"
    ),
    # nullif guards the empty-string denominator in BOTH dialects: under
    # Spark 4's default ANSI mode a bare /0 is a job-killing
    # DIVIDE_BY_ZERO, and the ratio of an empty text is honestly
    # undefined (NULL), not a crash. (The word-count denominators can't
    # hit 0: split(trim('')) is [''], size 1, in both engines.)
    "punct_ratio": round_sql(
        "cast(length(__COL__) - length(regexp_replace(__COL__, __RX_PUNCT__, ''__G__)) as double)"
        " / nullif(length(__COL__), 0)"
    ),
    "digit_ratio": round_sql(
        "cast(length(__COL__) - length(regexp_replace(__COL__, __RX_DIGIT__, ''__G__)) as double)"
        " / nullif(length(__COL__), 0)"
    ),
}

# composite heuristic quality score in [0,1] (C4-style: favors long-enough
# text with natural stopword density and low punctuation/digit noise).
# every numeric literal is cast to double: DuckDB types bare `0.25` as
# DECIMAL and its decimal arithmetic rounds differently from Spark's double.
def _d(x: str) -> str:
    return f"cast({x} as double)"


QUALITY_SCORE_TPL = round_sql(
    "least(" + _d("1.0") + ", greatest(" + _d("0.0") + ", "
    + _d("0.25") + " * least(length(__COL__) / " + _d("200.0") + ", " + _d("1.0") + ") "
    "+ " + _d("0.25") + " * least((" + QUALITY_PARTS["n_words"] + ") / " + _d("40.0") + ", " + _d("1.0") + ") "
    "+ " + _d("0.25") + " * least((" + QUALITY_PARTS["stopword_ratio"] + ") * " + _d("5.0") + ", " + _d("1.0") + ") "
    # coalesce: an empty text's punct_ratio is NULL (nullif guard above) —
    # score it as zero punctuation rather than poisoning the whole sum
    "+ " + _d("0.25") + " * (" + _d("1.0") + " - least(coalesce((" + QUALITY_PARTS["punct_ratio"] + ") * " + _d("10.0") + ", " + _d("0.0") + "), " + _d("1.0") + "))))"
)

# --- language identification -----------------------------------------------------

_LANG_MARKERS = {
    "en": r"\b(the|and|of|to|is|that|with)\b",
    "es": r"\b(el|la|los|las|de|que|un|una)\b",
    "fr": r"\b(le|les|des|un|une|est|dans)\b",
    "de": r"\b(der|die|das|und|nicht|ein)\b",
}


def lang_id_sql(col: str, dialect: str) -> str:
    """Marker-word language-ID as one CASE expression: CJK codepoints →
    'zh'; otherwise argmax of per-language marker hits (fixed priority-order
    tiebreak); zero hits → 'unk'. Same generated SQL both dialects."""
    ln = _TOKENS[dialect]["__LEN__"]
    score = {
        lang: f"{ln}(regexp_extract_all(lower({col}), {_sql_regex(p, dialect)}))"
        for lang, p in _LANG_MARKERS.items()
    }
    langs = list(_LANG_MARKERS)
    branches = []
    for i, lang in enumerate(langs):
        conds = [f"{score[lang]} > {score[o]}" for o in langs[:i]]
        conds += [f"{score[lang]} >= {score[o]}" for o in langs[i + 1 :]]
        branches.append(f"WHEN {' AND '.join(conds) or 'TRUE'} THEN '{lang}'")
    total = " + ".join(score.values())
    cjk = f"{ln}(regexp_extract_all({col}, {_sql_regex(_RX['__RX_CJK__'], dialect)})) > 0"
    return (
        f"CASE WHEN {cjk} THEN 'zh' WHEN ({total}) = 0 THEN 'unk' "
        + " ".join(branches)
        + " ELSE 'unk' END"
    )


# --- rendered accessors ------------------------------------------------------------


def token_count_sql(col: str, dialect: str) -> str:
    return render(TOKEN_COUNT_TPL, col, dialect, _RX)


def word_count_sql(col: str, dialect: str) -> str:
    return render(WORD_COUNT_TPL, col, dialect, _RX)


def quality_part_sql(name: str, col: str, dialect: str) -> str:
    return render(QUALITY_PARTS[name], col, dialect, _RX)


def quality_score_sql(col: str, dialect: str) -> str:
    return render(QUALITY_SCORE_TPL, col, dialect, _RX)


# --- Spark-side column helpers -------------------------------------------------------


def token_count(col: str = "text") -> Column:
    return F.expr(token_count_sql(col, "spark"))


def word_count(col: str = "text") -> Column:
    return F.expr(word_count_sql(col, "spark"))


def lang_id(col: str = "text") -> Column:
    return F.expr(lang_id_sql(col, "spark"))


def fingerprint(col: str = "text") -> Column:
    """64-bit content fingerprint of whitespace-normalized text (xxhash64,
    JVM-side). Engine-internal id — cross-engine oracles compare *groupings*
    (same text ⇒ same fingerprint), not raw hash values."""
    return F.xxhash64(F.regexp_replace(F.trim(F.col(col)), r"\s+", " "))


def repetition_stats(
    df, id_col: str = "doc_id", text_col: str = "text"
):
    """Gopher-style repetition quality signals (Rae et al. 2021, §A1.1):
    per document, the fraction of non-blank lines that are duplicates of
    another line, and the fraction of characters living in such lines —
    the standard boilerplate/navigation-chrome detector in web-corpus
    filtering.

    Plan shape: explode lines → one (doc, line) hash-agg → one per-doc
    hash-agg. Both aggregates are partial/final (map-side combinable);
    only (doc_id, line-hash, counts) shuffle, never full documents.
    Returns (id_col, n_lines, dup_line_frac, dup_line_char_frac), 4dp
    HALF_UP-rounded on both engines.
    """
    from pyspark.sql import functions as F

    # r6: group by (id, xxhash64(line)) with the length carried, instead of
    # the line string itself — the multiplicity fold only needs line
    # IDENTITY, so the hash-agg keys and the shuffle carry 16 bytes instead
    # of the line text (guide §2.3 "shuffle keys instead of payloads"; the
    # per-doc counts are exact unless two DISTINCT lines of one document
    # collide in 64 bits, the same 10^-16-class argument as the hashed-gram
    # dedup pipeline; verified equal output on every test SF).
    lines = (
        df.select(F.col(id_col), F.explode(F.split(F.col(text_col), "\n")).alias("_ln"))
        .filter(F.length(F.trim("_ln")) > 0)
        .select(
            id_col,
            F.xxhash64("_ln").alias("_lh"),
            F.length("_ln").alias("_len"),
        )
    )
    per_line = lines.groupBy(id_col, "_lh").agg(
        F.count(F.lit(1)).alias("_cnt"), F.first("_len").alias("_len")
    )
    dup = F.when(F.col("_cnt") > 1, F.col("_cnt")).otherwise(F.lit(0))
    agg = per_line.groupBy(id_col).agg(
        F.sum("_cnt").alias("n_lines"),
        F.sum(dup).alias("_dup_lines"),
        F.sum(F.col("_len") * F.col("_cnt")).alias("_chars"),
        F.sum(F.col("_len") * dup).alias("_dup_chars"),
    )
    def r4(c):
        return F.floor(c * 10000.0 + 0.5) / 10000.0

    return agg.select(
        id_col,
        "n_lines",
        r4(F.col("_dup_lines").cast("double") / F.col("n_lines")).alias("dup_line_frac"),
        r4(F.col("_dup_chars").cast("double") / F.col("_chars")).alias("dup_line_char_frac"),
    )


def normalize_text(df, text_col: str = "text", out_col: str = "text_norm"):
    """Vectorized corpus text normalization (the north rule's 'payload
    decode, text normalization ... as vectorized pandas/Arrow UDFs'):
    Unicode NFC composition, control-character strip (C0/C1 except tab and
    newline, which the whitespace collapse handles), whitespace-run
    collapse, edge trim. NFC runs in an Arrow-batched pandas UDF (Spark SQL
    has no normalization builtin); the rest stays JVM-side."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def nfc(sr: pd.Series) -> pd.Series:
        import unicodedata

        return sr.map(
            lambda s: unicodedata.normalize("NFC", s) if s is not None else None
        )

    cleaned = F.regexp_replace(
        nfc(F.col(text_col)),
        "[\\x00-\\x08\\x0B-\\x1F\\x7F-\\x9F]",
        "",
    )
    collapsed = F.trim(F.regexp_replace(cleaned, "\\s+", " "))
    return df.withColumn(out_col, collapsed)
