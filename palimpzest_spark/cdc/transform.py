"""Vectorized row-level transforms (north rule: pandas/Arrow UDFs only).

``normalize_text_series`` is shared by the engine's pandas UDF and the pandas
fold oracle, so both sides apply byte-identical normalization.
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def normalize_text_series(s: pd.Series) -> pd.Series:
    """NFC-normalize, strip, collapse internal whitespace (vectorized pandas)."""
    out = s.str.normalize("NFC").str.strip().str.replace(r"\s+", " ", regex=True)
    return out


@F.pandas_udf(T.StringType())
def normalize_text_udf(s: pd.Series) -> pd.Series:
    return normalize_text_series(s)
