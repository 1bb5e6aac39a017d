"""latest-vs-all versioning and the epoch-watermark stale sweep.

Reference parity:
- Every record goes to the ``files`` index; only the newest version also
  goes to ``latest`` (IndexName pair, /root/reference/src/metadata_crawler/
  api/stores/base.py:124-136; dual put data_collector.py:165-169; version
  dirs sorted descending, rank 0 = newest, :156-169).
- Stale sweep: after a full crawl, records whose ``_crawl_epoch`` predates
  now - grace_days (default 5) are deleted (api/metadata_stores.py:331-337,
  383-397; mongodb.py:386-413; postgresql.py:527-560).

Spark: ``latest`` is a window view (row_number = 1 per key by version desc),
``files`` is the table itself; the sweep is a watermark filter — with a
row-level-delete table format it would be DELETE WHERE, here it's a
filtered rewrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def latest_per_key(
    df: DataFrame,
    key: str | list[str],
    version_col: str = "warc_ts",
    tiebreak: str | None = None,
) -> DataFrame:
    """The ``latest`` index: newest version per key (rank-0 semantics).
    Deterministic: ties on version break by ``tiebreak`` ascending."""
    keys = [key] if isinstance(key, str) else list(key)
    order: list[Column] = [F.col(version_col).desc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc())
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def sweep_stale(
    df: DataFrame, epoch_col: str, watermark
) -> DataFrame:
    """Keep only records seen at/after the watermark (grace-period sweep).
    ``watermark`` is a Column or literal timestamp."""
    wm = watermark if isinstance(watermark, Column) else F.lit(watermark)
    return df.filter(F.col(epoch_col) >= wm)


def count_stale(df: DataFrame, epoch_col: str, watermark) -> int:
    """The reference's count_stale_objects guard (it prompts before sweeping
    >75%% of the store, api/metadata_stores.py:383-397)."""
    wm = watermark if isinstance(watermark, Column) else F.lit(watermark)
    return df.filter(F.col(epoch_col) < wm).count()


class SweepRefused(RuntimeError):
    """Raised instead of an interactive prompt when a sweep would delete
    more than ``guard_fraction`` of the store (the reference asks the
    operator to confirm, api/metadata_stores.py:383-397; a batch engine
    refuses and lets the caller pass force=True)."""


def guarded_sweep(
    df: DataFrame,
    epoch_col: str,
    watermark,
    guard_fraction: float = 0.75,
    force: bool = False,
) -> DataFrame:
    """sweep_stale with the reference's >75%%-deletion confirmation guard."""
    total = df.count()
    stale = count_stale(df, epoch_col, watermark)
    if total and stale / total > guard_fraction and not force:
        raise SweepRefused(
            f"sweep would delete {stale}/{total} "
            f"({stale / total:.0%}) > {guard_fraction:.0%}; pass force=True"
        )
    return sweep_stale(df, epoch_col, watermark)
