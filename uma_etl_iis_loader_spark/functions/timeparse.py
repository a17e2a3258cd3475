"""Time/date parsing kit (X7/X8, SURVEY.md §2.7).

TIME columns use the seconds-since-midnight int convention (SURVEY.md §1.2)
so range predicates stay sargable. The reference's asymmetric null handling
is preserved at the call site: lessons with unparseable times are DROPPED
(`iis_etl/logic.py:331-333`), exams default to 00:00
(`iis_etl/logic.py:366-370`).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

_HHMM = r"^\s*(\d{1,2}):(\d{2})\s*$"


def hhmm_to_seconds(col: Column | str) -> Column:
    """'H:mm' / 'HH:mm' → seconds since midnight; NULL when unparseable."""
    c = F.col(col) if isinstance(col, str) else col
    h = F.regexp_extract(c, _HHMM, 1)
    m = F.regexp_extract(c, _HHMM, 2)
    valid = (h != "") & (h.cast("int") < 24) & (m.cast("int") < 60)
    return F.when(valid, h.cast("int") * 3600 + m.cast("int") * 60)


def parse_ddmmyyyy(col: Column | str) -> Column:
    """'dd.MM.yyyy' → date, NULL on failure (X8, iis_etl/logic.py:52-56).

    try_to_date, not to_date: ANSI mode (Spark 4 default) makes to_date
    throw on unparseable input; the reference skips the row instead.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.try_to_date(c, "d.M.yyyy")
