"""Unicode normalization (dedup-key hygiene).

The same page crawled from two CMSes can carry composed vs decomposed
accents; NFC unifies them BEFORE content hashing, or every dedup family
silently misses those pairs. Spark SQL has no builtin unicode normalizer
(java.text.Normalizer would need a JVM UDF), so this is an Arrow-batched
pandas UDF; DuckDB's nfc_normalize reproduces it exactly, keeping
normalized-key queries oracle-checkable (q39).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _nfc_series(s: pd.Series) -> pd.Series:
    return s.map(lambda x: unicodedata.normalize("NFC", x) if x is not None else None)


def nfc_normalize_udf(s):
    """Column: NFC of each string. Built per call, as ``embed.embed_udf``
    (a cached UDF outlives its session)."""
    return F.pandas_udf(_nfc_series, T.StringType())(s)
