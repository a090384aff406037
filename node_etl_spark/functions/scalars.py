"""Scalar function library.

The reference's only built-in scalars are the quarter-date helpers
(utils.js:126-143) and ``{%path%}`` templating (utils.js:145-172 —
implemented in context.py). Everything else lived in user JS
(SURVEY §2.6); here the equivalent surface is the full
``pyspark.sql.functions`` namespace, plus these parity helpers.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def start_quarter_date(year: str | Column | int, quarter: str | Column | int) -> Column:
    """First day of (year, quarter) as a date (utils.js:126-134)."""
    y = F.lit(year) if isinstance(year, int) else (F.col(year) if isinstance(year, str) else year)
    q = F.lit(quarter) if isinstance(quarter, int) else (F.col(quarter) if isinstance(quarter, str) else quarter)
    month = (q - 1) * 3 + 1
    return F.make_date(y, month, F.lit(1))


def end_quarter_date(year: str | Column | int, quarter: str | Column | int) -> Column:
    """Last day of (year, quarter) (utils.js:136-143)."""
    return F.last_day(F.add_months(start_quarter_date(year, quarter), 2))


def quarter_bucket(ts: str | Column) -> Column:
    """'YYYY-Qn' label for grouping events by quarter
    (examples/bor-dwc.js:646-652 bucketing)."""
    c = F.col(ts) if isinstance(ts, str) else ts
    return F.concat(F.year(c).cast("string"), F.lit("-Q"), F.quarter(c).cast("string"))
