"""Sorts / top-k / latest-per-key (SURVEY.md §2.6 O1-O5, §2.4 A11).

- ``top_k`` compiles to ``TakeOrderedAndProject`` — each task keeps a
  k-row heap, only k rows per partition reach the driver; the global
  sort never materializes.  That is the scale-correct shape for the
  dashboard's "sort desc + head" (dashboard.py:343-357).
- ``latest_per_key`` is the reference's only latent window semantic
  (``df['pm2_5'].iloc[-1]``, dashboard.py:266): row_number over
  (partitionBy key, orderBy ts desc) = 1.  One shuffle on the key,
  no global sort.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window, functions as F


def top_k(
    df: DataFrame,
    order_by: Sequence[str],
    k: int,
    tie_break: str | None = None,
) -> DataFrame:
    """O5 — deterministic top-k: sort columns descending + an explicit
    unique tie-break column (ascending) so the selected *set* is stable
    across engines."""
    cols = [F.col(c).desc() for c in order_by]
    if tie_break:
        cols.append(F.col(tie_break).asc())
    return df.orderBy(*cols).limit(k)


def latest_per_key(
    df: DataFrame,
    key: str | Sequence[str],
    ts: str,
    tie_break: str | None = None,
) -> DataFrame:
    """A11 — latest row per key via row_number()=1.

    ``tie_break`` disambiguates equal timestamps (the oracle needs a
    total order to agree on the winner).
    """
    keys = [key] if isinstance(key, str) else list(key)
    order = [F.col(ts).desc()]
    if tie_break:
        order.append(F.col(tie_break).desc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )
