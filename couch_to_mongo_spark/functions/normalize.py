"""Transcript text normalization.

The reference passes documents through byte-for-byte (reference:
Couch.java:295 ``Document.parse(row.getDoc())``); our input_hint instead
requires per-turn text equality under stable turn ordering, so the engine
normalizes text once at ingest: Unicode NFC + collapse runs of whitespace
to single spaces + strip. ``normalize_text`` does it as a JVM Column
expression, so the ingest path runs no Python worker.
``normalize_text_py`` is the plain-Python definition it follows: oracle.py
and the parity tests use it, and it shares no code with the engine.
``normalize_kernel`` is the pandas form the opt-in poison guard
(operators/poison.py) wraps.
"""

from __future__ import annotations

import re
import unicodedata

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

_WS = re.compile(r"\s+")

# every code point Python's \s matches in a str, as one Java regex class
# (Java's \s is a different set, even under (?U): it lacks \x1C-\x1F)
_JVM_WS = (
    r"[\t\n\x0B\f\r\x1C-\x1F \x85\xA0\u1680\u2000-\u200A\u2028\u2029\u202F\u205F\u3000]+"
)


def normalize_text_py(s: str | None) -> str | None:
    """Single-value oracle implementation (``normalize_text`` must match
    it bit-for-bit)."""
    if s is None:
        return None
    return _WS.sub(" ", unicodedata.normalize("NFC", s)).strip()


def normalize_text(text: Column) -> Column:
    """NFC, whitespace collapse, strip — as a JVM expression over ``text``.
    NFC is ICU4J's, which ships in Spark's ``jars/``; the call throws on
    null, hence the guard. After the collapse only single U+0020 spaces can
    remain at the ends, which is all ``trim`` strips."""
    nfc = F.java_method(
        F.lit("com.ibm.icu.text.Normalizer"), F.lit("compose"), text, F.lit(False)
    )
    return F.when(text.isNotNull(), F.trim(F.regexp_replace(nfc, _JVM_WS, " ")))


def normalize_kernel(pdf: pd.DataFrame) -> pd.DataFrame:
    """Schema-preserving pandas kernel form (for
    :func:`couch_to_mongo_spark.operators.poison.isolate_poison`)."""
    if "text" in pdf.columns:
        nfc = pdf["text"].map(
            lambda v: unicodedata.normalize("NFC", v) if v is not None else None
        )
        pdf = pdf.assign(text=nfc.str.replace(r"\s+", " ", regex=True).str.strip())
    return pdf
