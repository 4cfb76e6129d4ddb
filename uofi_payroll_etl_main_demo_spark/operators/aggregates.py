"""Aggregate operators (SURVEY.md §2.4 A1–A5).

The one non-trivial aggregate in the reference is MODE-per-group with a
deterministic fallback (``mode_map``, etl_payroll_pipeline_demo.py:
224-226, applied at 311-319 and 633-637). The engine computes it as one
``F.mode(..., deterministic=True)`` aggregate, whose ties go to the
smallest value — deterministic on any cluster.

Scale shape: ``mode`` builds its per-group value→count map map-side,
BEFORE the shuffle, so the shuffle carries one entry per
(key, value) pair — cardinality of the value domain, not of the fact
table (SURVEY.md §7.3 hard part 4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def mode_by_group(
    df: DataFrame,
    key: str | list[str],
    value: str,
    out_name: str | None = None,
) -> DataFrame:
    """Most frequent ``value`` per ``key``; ties broken by smallest value.

    Returns one row per key: ``key..., out_name``. NULL counts as a
    value and is the smallest: a key whose most frequent value is NULL,
    or ties with it, maps to NULL. (``mode`` skips NULL inputs, so the
    value rides in a one-field struct, which is never NULL.)
    """
    keys = [key] if isinstance(key, str) else list(key)
    out_name = out_name or f"mode_{value}"
    top = F.mode(F.struct(value), deterministic=True)[value]
    return df.groupBy(*keys).agg(top.alias(out_name))


def mode_lookup_map(
    df: DataFrame, key: str, value: str
) -> dict[str, str]:
    """Driver-side dict of mode-per-key (A5) — the reference's
    ``.agg(mode_map).to_dict()`` at 319/633-637. Only for genuinely tiny
    key domains; prefer joining ``mode_by_group`` output relationally
    (J10) so nothing is collected."""
    rows = mode_by_group(df, key, value, "value").collect()
    return {r[key]: r["value"] for r in rows}


def null_count(df: DataFrame, *cols: str) -> DataFrame:
    """Per-column null counts in one pass (A3; reference 687/691)."""
    return df.agg(
        *[
            F.count_if(F.col(c).isNull()).alias(f"nulls_{c}")
            for c in cols
        ]
    )


def min_max(df: DataFrame, col: str) -> tuple:
    """(min, max) of a column collected to the driver (A2; reference
    496-497 uses them for the fiscal-window sanity bound)."""
    row = df.agg(F.min(col).alias("mn"), F.max(col).alias("mx")).first()
    return row["mn"], row["mx"]


def decimal_sum(c: Column | str, precision: int = 18, scale: int = 2) -> Column:
    """Order-independent money sum: cast to decimal before summing.

    Double addition is not associative, so a distributed sum of doubles
    varies with partitioning. Summing decimals is exact and therefore
    deterministic under any partition order — required for
    oracle-differential testing, and the right call for money at any
    scale.
    """
    col = F.col(c) if isinstance(c, str) else c
    return F.sum(col.cast(f"decimal({precision},{scale})"))
