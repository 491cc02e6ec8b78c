"""Remaining reference scalar semantics: F4 title normalization,
F11 tree-similarity dedup, F12 abstract-into-fulltext splice.

These are behavioral re-implementations of:
  - clean_journal_title (AIP/aip_journals.py:40-59): collapse newlines
    and space runs, capitalize each word EXCEPT acronym-bank words
    (kept as-is) and lowercase-bank words (kept lowercase unless first);
  - duplicated abstract/fulltext acceptance at SequenceMatcher ratio
    >= 0.99 (AIP/download_abstract.py:59-75,105-122);
  - abstract element spliced at position 0 of the fulltext tree
    (AIP/download_abstract.py:84-128).

All exposed both as plain functions (simulator/tests) and as
Arrow-batched pandas UDF wrappers for DataFrame use.
"""

from __future__ import annotations

import difflib
import re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

# words kept lowercase mid-title; acronyms kept verbatim
LOWERCASE_BANK = {"and", "of", "the", "in", "on", "at", "for", "a", "an", "to"}
ACRONYM_BANK = {"AIP", "APL", "JVST", "IEEE", "ACS", "RSC", "AIP-P", "JCP", "II", "III", "IV"}


def clean_journal_title(title: str) -> str:
    """Whitespace-collapse + bank-aware capitalization."""
    words = title.replace("\n", " ").split()
    out = []
    for i, w in enumerate(words):
        if w.upper() in ACRONYM_BANK:
            out.append(w.upper() if w.isupper() or w.upper() in ACRONYM_BANK else w)
        elif w.lower() in LOWERCASE_BANK and i > 0:
            out.append(w.lower())
        else:
            out.append(w[:1].upper() + w[1:].lower() if w else w)
    return " ".join(out)


def similarity_ratio(a: str, b: str) -> float:
    """SequenceMatcher ratio — the reference's duplicate-acceptance
    metric (threshold 0.99)."""
    return difflib.SequenceMatcher(None, a or "", b or "").ratio()


def is_near_identical(a: str, b: str, threshold: float = 0.99) -> bool:
    return similarity_ratio(a, b) >= threshold


_BODY_OPEN = re.compile(r"(<body[^>]*>)", re.IGNORECASE)


def splice_abstract(fulltext_xml: str, abstract_xml: str) -> str:
    """Insert the abstract fragment at position 0 of the fulltext body
    (string-level equivalent of the reference's etree insert(0, ...))."""
    if not abstract_xml:
        return fulltext_xml
    m = _BODY_OPEN.search(fulltext_xml)
    if not m:
        return abstract_xml + fulltext_xml
    at = m.end()
    return fulltext_xml[:at] + abstract_xml + fulltext_xml[at:]


# ---------------------------------------------------------------------------
# pandas UDF wrappers


@F.pandas_udf(T.StringType())
def clean_journal_title_udf(s: pd.Series) -> pd.Series:
    return s.map(lambda x: clean_journal_title(x) if x is not None else None)


@F.pandas_udf(T.DoubleType())
def similarity_ratio_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    return pd.Series([similarity_ratio(x, y) for x, y in zip(a, b)])
