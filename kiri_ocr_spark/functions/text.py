"""Text-span scalar functions (SURVEY.md §2.8 F1-F6).

Everything expressible natively stays native (whole-stage codegen); the
single non-native piece is Unicode NFC, done as an Arrow-vectorized scalar
pandas UDF (Spark has no NFC builtin) — mirroring the reference's
normalization contract: CFG.UNICODE_NFC / CFG.COLLAPSE_WHITESPACE
(/root/reference/kiri_ocr/model.py:31-32) and the benchmark's
NFC-strip-before-compare (/root/reference/benchmark/run_benchmark.py:111-112).
"""

from __future__ import annotations

import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import StringType

KHMER_PATTERN = "[ក-៿]"  # reference kiri_ocr/generator.py:91


@pandas_udf(StringType())
def nfc_udf(s: pd.Series) -> pd.Series:
    """Unicode NFC normalization, Arrow-batched (F1)."""
    return s.map(lambda v: unicodedata.normalize("NFC", v) if v is not None else None)


def collapse_whitespace(col: Column | str) -> Column:
    """F2: collapse runs of whitespace to single spaces, then trim — native;
    the one Spark-side copy of the rule. Collapse first: `trim` strips
    only ' ', so a tab, newline or CR at either end must become a space
    before it."""
    return F.trim(F.regexp_replace(col, r"\s+", " "))


def normalize_text(col: Column) -> Column:
    """Full text-span normalizer: collapse whitespace then NFC (F1+F2)."""
    return nfc_udf(collapse_whitespace(col))


def is_khmer(col: Column) -> Column:
    """F4: any char in the Khmer block U+1780-U+17FF."""
    return col.rlike(KHMER_PATTERN)


def cer(gt: Column, pred: Column) -> Column:
    """F6: character error rate = levenshtein/len(gt); 1.0 when gt is empty
    but pred is not, 0.0 when both empty
    (/root/reference/benchmark/run_benchmark.py:34-39)."""
    return (
        F.when(
            F.length(gt) == 0,
            F.when(F.length(pred) == 0, F.lit(0.0)).otherwise(F.lit(1.0)),
        )
        .otherwise(F.levenshtein(gt, pred) / F.length(gt))
        .cast("double")
    )


def char_accuracy(cer_col: Column) -> Column:
    """max(0, 1 - CER) (/root/reference/benchmark/run_benchmark.py:138)."""
    return F.greatest(F.lit(0.0), F.lit(1.0) - cer_col)
