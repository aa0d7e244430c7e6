"""Robust timestamp parsing (ref convert_timestamp_robust,
json2udm_cloud.py:19-46) in three equivalent forms:

- :func:`parse_capture_ts`      native column expression (the hot path)
- :func:`parse_capture_ts_udf`  row-at-a-time Python UDF (U1 — parity
                                 baseline, deliberately the slow path)
- :func:`parse_capture_ts_pandas` Arrow-vectorized pandas UDF (U2)

The UDF forms exist to demonstrate and test U1/U2 parity with the
native chain — production code uses the native expression only.
"""

from __future__ import annotations

from datetime import datetime

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

FMT_MICRO = "MMM d, yyyy H:mm:ss.SSSSSS"
FMT_PLAIN = "MMM d, yyyy H:mm:ss"
_PY_MICRO = "%b %d, %Y %H:%M:%S.%f"
_PY_PLAIN = "%b %d, %Y %H:%M:%S"


def parse_capture_ts(col: Column) -> Column:
    """Native parse chain: 26-char-truncated micro format, then
    tz-suffix-stripped plain format; NULL if both fail (callers attach
    their own fallback, e.g. the injected processing time)."""
    return F.coalesce(
        F.try_to_timestamp(F.substring(col, 1, 26), F.lit(FMT_MICRO)),
        F.try_to_timestamp(
            F.trim(F.regexp_replace(col, " (UTC|Central European Summer Time).*$", "")),
            F.lit(FMT_PLAIN),
        ),
    )


def _parse_one(s: str | None) -> datetime | None:
    if not s:
        return None
    try:
        return datetime.strptime(s[:26], _PY_MICRO)
    except ValueError:
        pass
    try:
        cleaned = s.split(" UTC")[0].split(" Central European Summer Time")[0].strip()
        return datetime.strptime(cleaned, _PY_PLAIN)
    except ValueError:
        return None


@F.udf(T.TimestampType(), useArrow=False)
def parse_capture_ts_udf(s: str | None):
    """U1: row-at-a-time Python UDF form (one serde round-trip per row)."""
    return _parse_one(s)


@F.pandas_udf(T.TimestampType())
def parse_capture_ts_pandas(s: pd.Series) -> pd.Series:
    """U2: Arrow-batched form — same logic, ~10-100x less overhead."""
    return s.map(_parse_one)
