"""Date/time column builders.

Determinism rule (SURVEY.md §4.3): the reference calls ``now()`` everywhere;
every operator here instead takes an explicit ``as_of`` parameter.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import Column
from pyspark.sql import functions as F

AS_OF_DEFAULT = dt.datetime(2025, 1, 1)  # fixed; testdata spans 2024


def as_of_lit(as_of: dt.datetime | None = None) -> Column:
    return F.lit((as_of or AS_OF_DEFAULT).strftime("%Y-%m-%d %H:%M:%S")).cast("timestamp")


def as_of_sql(as_of: dt.datetime | None = None) -> str:
    return "TIMESTAMP '" + (as_of or AS_OF_DEFAULT).strftime("%Y-%m-%d %H:%M:%S") + "'"
