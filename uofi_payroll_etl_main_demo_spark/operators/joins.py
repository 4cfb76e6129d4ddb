"""Join builders — the enrichment surface of the reference.

Every reference join is a left equi-join of a fact table against a
deduplicated, projected dimension (SURVEY.md §2.3 J1–J10, reference
use-sites etl_payroll_pipeline_demo.py:290-308, 598-663). The builders
here encode that shape once:

- dimensions are projected to key+payload and deduplicated BEFORE the
  join (reference's manual fan-out guard, lines 290/294/305/...),
- small dimensions get an explicit ``broadcast`` hint (they are
  KB–MB-scale lookups; at 100 TB fact scale the broadcast-hash join
  avoids shuffling the fact table entirely) and are deduplicated in
  the one task that feeds the broadcast, with no shuffle of their own,
- an optional row-count-preservation check ports ``safe_merge_left``
  (lines 233-240).

At cluster scale the count-check is two extra jobs over the fact table,
so it is opt-in (``check_fanout=True``) — intended for tests and
sf-small validation runs, not the 100 TB hot path where the pre-join
``dropDuplicates`` on the dimension already guarantees the invariant.
"""

from __future__ import annotations

import warnings
from collections.abc import Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


class FanOutError(RuntimeError):
    """Left join multiplied rows (duplicate keys on the right side)."""


class FanOutWarning(UserWarning):
    """Warn-and-continue twin of :class:`FanOutError` (reference
    safe_merge_left warns and proceeds, lines 233-240)."""


def _prepare_dim(
    dim: DataFrame,
    keys: Sequence[str],
    payload: Sequence[str] | None,
    dedup: bool = True,
) -> DataFrame:
    cols = list(keys) + [c for c in (payload or []) if c not in keys]
    out = dim.select(*cols)
    if dedup:
        # Reference guards every merge with drop_duplicates() on the
        # projected dimension (fan-out prevention, SURVEY.md §2.3 J8).
        # A broadcast dim arrives as one partition (a broadcast is
        # collected whole anyway), which already satisfies the
        # dedup's clustering: no shuffle, no extra job.
        # Dedup on the KEYS (not the full row) so a dimension with two
        # payload variants for one key still cannot multiply the fact
        # side; which payload survives is made deterministic by
        # min-ordering on the payload columns via a groupBy.
        payload_cols = [c for c in out.columns if c not in keys]
        if payload_cols:
            # One struct-min per key, then unpack: the surviving payload
            # is a COMPLETE row (the lexicographically smallest one), not
            # a per-column mix of values from different dimension rows.
            row = F.min(F.struct(*payload_cols)).alias("__dim_row")
            out = (
                out.groupBy(*keys)
                .agg(row)
                .select(
                    *keys,
                    *[F.col(f"__dim_row.{c}").alias(c) for c in payload_cols],
                )
            )
        else:
            out = out.dropDuplicates(list(keys))
    return out


def safe_left_join(
    fact: DataFrame,
    dim: DataFrame,
    on: Sequence[str] | Mapping[str, str],
    payload: Sequence[str] | None = None,
    *,
    broadcast_dim: bool = True,
    dedup_dim: bool = True,
    check_fanout: bool = False,
    on_fanout: str = "raise",
    how: str = "left",
) -> DataFrame:
    """Left equi-join with the reference's safety posture.

    ``on`` is either a list of shared column names, or a mapping
    ``{fact_col: dim_col}`` for differently-named keys (J2/J5 shape,
    reference lines 294-300, 606-612); the dim-side key is dropped
    after the join so the output keeps only fact-side key names.

    Reference: ``safe_merge_left`` etl_payroll_pipeline_demo.py:233-240
    plus the per-merge projection+dedup idiom at 290, 294, 305, 599,
    607, 628, 654.
    """
    if isinstance(on, Mapping):
        fact_keys = list(on.keys())
        dim_keys = list(on.values())
    else:
        fact_keys = dim_keys = list(on)

    if broadcast_dim:  # one task feeds the broadcast (see _prepare_dim)
        dim = dim.coalesce(1)
    dim_prepared = _prepare_dim(dim, dim_keys, payload, dedup=dedup_dim)
    if broadcast_dim:
        dim_prepared = F.broadcast(dim_prepared)

    if isinstance(on, Mapping):
        cond = None
        for fk, dk in zip(fact_keys, dim_keys):
            c = fact[fk] == dim_prepared[dk]
            cond = c if cond is None else (cond & c)
        joined = fact.join(dim_prepared, cond, how)
        for dk in dim_keys:
            if dk not in fact.columns:
                joined = joined.drop(dim_prepared[dk])
    else:
        joined = fact.join(dim_prepared, fact_keys, how)

    if check_fanout:
        if on_fanout not in ("raise", "warn"):
            raise ValueError(f"on_fanout must be 'raise' or 'warn', got {on_fanout!r}")
        before = fact.count()
        after = joined.count()
        if after != before:
            msg = (
                f"left join changed row count {before} -> {after}; "
                "right side has duplicate keys"
            )
            if on_fanout == "raise":
                raise FanOutError(msg)
            # Reference safe_merge_left (etl_payroll_pipeline_demo.py:233-240)
            # WARNS on row multiplication and proceeds with the fanned-out
            # result; this mode matches that behavior for messy inputs.
            warnings.warn(msg, FanOutWarning, stacklevel=2)
    return joined


def enrich_left(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, Sequence[str] | Mapping[str, str], Sequence[str]]],
    **kwargs,
) -> DataFrame:
    """Chain several ``safe_left_join`` enrichments (the reference's
    J1→J2→J3 / J4→J7 cascades, §3.2/§3.3). All dims broadcast; the
    fact table is never shuffled."""
    out = fact
    for dim, on, payload in dims:
        out = safe_left_join(out, dim, on, payload, **kwargs)
    return out


def semi_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """EXISTS: rows of ``left`` with a match in ``right`` (P11 as a
    relational operator)."""
    return left.join(right.select(*on).dropDuplicates(list(on)), list(on), "left_semi")


def anti_join(left: DataFrame, right: DataFrame, on: Sequence[str]) -> DataFrame:
    """NOT EXISTS: rows of ``left`` with no match in ``right`` (the
    reference's missing-lookup warnings, lines 141-142, as an operator)."""
    return left.join(right.select(*on).dropDuplicates(list(on)), list(on), "left_anti")
