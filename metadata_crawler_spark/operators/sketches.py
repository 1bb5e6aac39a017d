"""Mergeable one-pass sketches for incremental corpus/crawl analytics.

A 100 TB crawl cannot afford "re-scan everything" answers to monitoring
questions the reference answers with in-memory dicts and counters
(status totals: /root/reference/src/metadata_crawler/utils/__init__.py
counter display; per-store counts: api/stores/base.py). At scale the
only viable shape is a *mergeable summary*: build a small sketch per
round (or per partition) in one pass, persist it beside the round's
data, and answer queries by merging sketches — never by re-reading the
100 TB of rows that produced them.

Two families:

1. **Cardinality (HyperLogLog)** — `hll_sketches` / `hll_merge` /
   `hll_estimates` wrap Spark's built-in Apache DataSketches HLL
   aggregates (`hll_sketch_agg`, `hll_union_agg` — JVM-side, codegen'd,
   mergeable by construction). Use case: per-host distinct-URL counts
   maintained across crawl rounds — each round contributes one sketch
   row per host; the running answer is a union over round sketches,
   O(hosts x sketch_size) work regardless of how many URLs the rounds
   contained.

2. **Heavy hitters (Misra-Gries + exact verify)** — `mg_summaries`
   builds a per-partition Misra-Gries summary (k counters, batched
   decrement) inside `mapInPandas`; `heavy_hitters` merges the
   candidate sets (<= partitions x k rows — never the raw column) and
   then recounts ONLY the candidates exactly (broadcast semi-filtered
   aggregate with map-side combine bounded by the candidate count).
   Output is therefore EXACT — every item with frequency > n/k, with
   its true count — found without ever shuffling the raw column. Same
   candidates-then-verify shape as the LSH pipeline
   (dedup.lsh_candidate_pairs -> jaccard_verify).

Misra-Gries guarantee (k counters, batched variant): a decrement of q
is only ever applied uniformly across > k live counters plus discards,
so each unit of decrement on one item is matched by >= k+1 units
removed overall; per-item undercount <= n_p/(k+1) on a partition of
n_p occurrences. An item with global frequency > n/k is therefore
above the local threshold in at least one partition (averaging
argument) and always survives into the candidate set.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

__all__ = [
    "hll_sketches",
    "hll_merge",
    "hll_estimates",
    "hll_overlap",
    "mg_summaries",
    "heavy_hitters",
]


# ---------------------------------------------------------------------------
# HyperLogLog (DataSketches HLL via Spark built-ins)
# ---------------------------------------------------------------------------


def hll_sketches(
    df: DataFrame,
    keys: Sequence[str],
    value_col: str,
    lgk: int = 12,
) -> DataFrame:
    """One HLL sketch per key group over ``value_col``: (keys..., hll).

    ``lgk`` = log2 of the register count (12 -> 4096 registers,
    ~= 1.6% relative standard error, <= ~2.5 KiB per sketch). The agg is
    Spark's JVM `hll_sketch_agg` — partial sketches merge map-side, so
    the shuffle carries one sketch per (partition, key), not rows.
    """
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(F.col(value_col), F.lit(lgk)).alias("hll")
    )


def hll_merge(sketches: DataFrame, keys: Sequence[str]) -> DataFrame:
    """Union sketch rows (e.g. one batch per crawl round, appended to a
    sketch table) back down to one sketch per key. ``allowDifferentLgK``
    is on so historical rounds written at another precision still merge
    (the union downgrades to the coarser lgK, per DataSketches rules).
    """
    return sketches.groupBy(*keys).agg(
        F.hll_union_agg(F.col("hll"), F.lit(True)).alias("hll")
    )


def hll_estimates(sketches: DataFrame, keys: Sequence[str]) -> DataFrame:
    """(keys..., n_distinct) from a sketch table — no raw data touched."""
    return sketches.select(
        *keys, F.hll_sketch_estimate("hll").alias("n_distinct")
    )


def hll_overlap(
    a: DataFrame, b: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Cross-snapshot overlap from sketches alone: per key group,
    (keys..., n_a, n_b, n_union, n_intersect) where n_intersect is the
    inclusion-exclusion estimate ``|A| + |B| - |A u B|`` (HLL unions
    exactly; it cannot intersect, so this is the standard derived
    estimate — error grows as the true overlap shrinks relative to the
    union, which is fine for the coverage questions it answers: "how
    many of host X's URLs did snapshots A and B both see?"). Inputs are
    two sketch tables as built by :func:`hll_sketches`; a key group
    present in only one side reports the other side as 0. Work is
    O(key groups), never the raw snapshots."""
    an = a.select(*keys, F.col("hll").alias("hll_a"))
    bn = b.select(*keys, F.col("hll").alias("hll_b"))
    both = an.join(bn, list(keys), "full_outer")
    est_a = F.when(
        F.col("hll_a").isNull(), F.lit(0)
    ).otherwise(F.hll_sketch_estimate("hll_a"))
    est_b = F.when(
        F.col("hll_b").isNull(), F.lit(0)
    ).otherwise(F.hll_sketch_estimate("hll_b"))
    est_u = F.when(
        F.col("hll_a").isNull(), est_b
    ).when(
        F.col("hll_b").isNull(), est_a
    ).otherwise(
        F.hll_sketch_estimate(F.hll_union("hll_a", "hll_b", True))
    )
    return both.select(
        *keys,
        est_a.alias("n_a"),
        est_b.alias("n_b"),
        est_u.alias("n_union"),
        F.greatest(est_a + est_b - est_u, F.lit(0)).alias("n_intersect"),
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters
# ---------------------------------------------------------------------------


def _mg_shrink(counts: dict, k: int) -> None:
    """Batched MG decrement: subtract the (len-k)-th smallest live count
    from every counter and drop the <= 0 ones, landing at <= k counters
    in one vectorized step (equivalent to that many rounds of the
    classic one-at-a-time decrement)."""
    if len(counts) <= k:
        return
    vals = np.fromiter(counts.values(), dtype=np.int64, count=len(counts))
    # q = smallest decrement that leaves <= k strictly-positive counters
    q = np.partition(vals, len(vals) - k - 1)[len(vals) - k - 1]
    items = list(counts.keys())
    kept = vals - q
    counts.clear()
    for it, c in zip(items, kept):
        if c > 0:
            counts[it] = int(c)


def mg_summaries(df: DataFrame, col: str, k: int) -> DataFrame:
    """Per-partition Misra-Gries summaries: (item, lower_bound, n_part).

    One `mapInPandas` pass; the dict of <= k counters lives across the
    partition's Arrow batches (the iterator spans the whole partition).
    Each output partition emits <= k item rows plus its exact row count
    `n_part` (on the first item row; 0-item partitions emit one NULL-item
    row so the total never goes missing). NULL column values are ignored
    — NULL is absence, not a candidate.
    """
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    schema = "item string, lower_bound long, n_part long"

    def part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict = {}
        n = 0
        for b in batches:
            s = b[col].dropna()
            n += len(s)
            if len(s) == 0:
                continue
            for item, c in s.value_counts().items():
                counts[item] = counts.get(item, 0) + int(c)
            _mg_shrink(counts, k)
        if not counts:
            yield pd.DataFrame(
                {"item": [None], "lower_bound": [0], "n_part": [n]}
            )
            return
        items = list(counts.keys())
        out = pd.DataFrame(
            {
                "item": [str(i) for i in items],
                "lower_bound": [counts[i] for i in items],
                "n_part": [0] * len(items),
            }
        )
        out.loc[0, "n_part"] = n
        yield out

    return df.select(F.col(col).cast("string").alias(col)).mapInPandas(
        part, schema
    )


def heavy_hitters(
    df: DataFrame,
    col: str,
    k: int,
    threshold_frac: float | None = None,
) -> DataFrame:
    """EXACT frequent items: every value of ``col`` with frequency
    > ``threshold_frac`` x n (default 1/k), with its true count and
    share — (item, cnt, share).

    Plan: pass 1 builds MG candidate summaries (<= partitions x (k+1)
    rows; localCheckpointed — never collected — because both the
    candidate set and the total read them); pass 2 re-scans ``df`` keeping only candidate rows (broadcast
    LEFT SEMI — build side is the candidate set) and aggregates exactly,
    so the groupBy's map-side combine is bounded by the candidate count,
    never the raw key cardinality. Two scans of ``df`` are inherent to
    exact verification (any one-pass summary only lower-bounds counts);
    everything between the scans is O(partitions x k).

    The MG *candidate set* depends on partitioning; the verified output
    does not — the guarantee (see module docstring) makes every true
    heavy hitter a candidate under any partitioning, and the exact
    recount discards the false ones. That recall guarantee only covers
    items with frequency > n/k, so a ``threshold_frac`` below 1/k would
    silently miss qualifying items — rejected here: pass a larger ``k``
    (k >= ceil(1/threshold_frac)) instead.
    """
    # 1e-9 slack admits threshold_frac=1/k written as a rounded float
    if threshold_frac is not None and threshold_frac * k < 1.0 - 1e-9:
        raise ValueError(
            f"threshold_frac={threshold_frac} < 1/k (k={k}): the MG "
            f"candidate set only guarantees recall above n/k; use "
            f"k >= {int(1.0 / threshold_frac) + 1}"
        )
    summaries = mg_summaries(df, col, k).localCheckpoint()
    candidates = summaries.filter(F.col("item").isNotNull()).select(
        F.col("item").alias(col)
    ).distinct()
    total = summaries.agg(F.sum("n_part").alias("n_total"))
    exact = (
        df.select(F.col(col).cast("string").alias(col))
        .join(F.broadcast(candidates), col, "left_semi")
        .groupBy(col)
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    # integer form when the threshold is the default 1/k: cnt > n/k
    # <=> cnt*k > n with no floating-point boundary flips vs a SQL oracle
    if threshold_frac is None:
        keep = F.col("cnt") * F.lit(k) > F.col("n_total")
    else:
        keep = F.col("cnt") > F.col("n_total") * F.lit(threshold_frac)
    return (
        exact.crossJoin(F.broadcast(total))
        .filter(keep)
        .select(
            F.col(col).alias("item"),
            "cnt",
            (F.col("cnt") / F.col("n_total")).alias("share"),
        )
    )
