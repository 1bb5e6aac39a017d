"""URL-seen membership: sharded Bloom filter + exact hash-pair table.

Reference parity: the reference's seen-set is *implicit* — the catalogue
store's unique index on the schema's unique key makes every re-crawled path
an upsert instead of a duplicate (/root/reference/src/metadata_crawler/api/
stores/mongodb.py:135-166 UpdateOne upsert; postgresql.py:240-264
ON CONFLICT DO UPDATE; epoch re-stamping api/stores/base.py:411-425).
That design serializes membership through one database.

Spark-native redesign (north rule): membership = two tiers keyed on the
128-bit xxhash of the canonical URL —

1. **Sharded approximate filter** (no false negatives): one table per
   shard, shard = pmod(hash_hi, S) — a Bloom bitmap, or a deletable
   cuckoo table. Persisted as a tiny table of shard rows ``(shard,
   payload, n_items, <geometry>, n_shards)``. Both tiers share one
   lifecycle: built per shard with ``groupBy(shard).applyInPandas``, and
   grown across rounds by co-grouping each round's keys with their
   shard's standing row and setting them in place (one Python stage,
   numpy inside, no per-row Python).
2. **Exact hash-pair table** — only consulted for the filter's "maybe" slice
   via a ``left_anti`` join, so at 10^10 URLs the expensive join touches
   ~fpr of candidates instead of all of them.

Geometry (tier, shard count, capacity per shard) is a property of a
built filter, not of a caller's config: the round loop records it with
the filter, evolves the filter at that geometry, and rebuilds it from
the exact seen set at double the seen count once the count outgrows the
capacity (SURVEY §7 hard part b: append + periodic compaction). Rebuilds
are O(log N) over a crawl, and a filter never holds more keys per shard
(on average) than it was sized for. :func:`filter_bytes` and
:func:`filter_health` are the arithmetic on that geometry, run on the
Spark driver with no job.

Probe strategies (either tier, read from the filter's schema):
- ``probe_with_broadcast`` — shard tables collected+broadcast, vectorized
  pandas UDF. Right when total filter bytes fit in executor memory
  (local mode, or small frontiers).
- ``probe_cogrouped``   — candidates co-grouped with their shard's table
  via ``groupby(shard).cogroup(...).applyInPandas``. Nothing is broadcast;
  shuffle moves only candidate rows. This is the 10^10-URL path: a
  10-bits/key filter over 10^10 keys is ~12 GB total but only
  12 GB / S per shard-task.
"""

from __future__ import annotations

import math
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.urls import shard_expr

BLOOM_SCHEMA = (
    "shard int, bloom binary, n_items long, m_bits long, k int, n_shards int"
)


def bloom_params(expected_items: int, fpr: float = 0.01) -> tuple[int, int]:
    """(m_bits, k) for a target false-positive rate; m rounded to bytes."""
    n = max(1, expected_items)
    m = max(64, int(-n * math.log(fpr) / (math.log(2) ** 2)))
    m = (m + 7) // 8 * 8
    k = max(1, round(m / n * math.log(2)))
    return m, min(k, 16)


def _positions(hi: np.ndarray, lo: np.ndarray, k: int, m: int) -> np.ndarray:
    """Kirsch-Mitzenmacher double hashing: pos_i = (hi + i*lo) mod m.
    Shape (k, n); uint64 wraparound arithmetic, fully vectorized."""
    hi = hi.astype(np.int64).view(np.uint64)
    lo = lo.astype(np.int64).view(np.uint64)
    i = np.arange(k, dtype=np.uint64).reshape(-1, 1)
    return ((hi + i * lo) % np.uint64(m)).astype(np.int64)


def _set_bits(bits: np.ndarray, pos: np.ndarray) -> None:
    np.bitwise_or.at(bits, pos.ravel() >> 3, np.uint8(1) << (pos.ravel() & 7).astype(np.uint8))


def _test_bits(bits: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """(k, n) positions -> (n,) bool: all k bits set."""
    got = (bits[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1
    return got.all(axis=0).astype(bool)


# ---------------------------------------------------------------------------
# Cuckoo-filter tier (Fan et al. 2014, "Cuckoo Filter: Practically Better
# Than Bloom"). The north-star membership design names BOTH structures:
# the Bloom tier is append-only (keys are only ever set), while a
# cuckoo filter supports DELETION — the missing half that pairs with the
# stale sweep (D4) and delete-by-facet (D5): when rows are purged from
# the catalogue their keys can be evicted from the approximate tier too,
# so re-crawls of purged URLs aren't forced through the exact anti-join
# forever. Same sharding contract as the Bloom tier (shard =
# pmod(hash_hi, S)); same no-false-negative guarantee for present keys.
#
# Layout per shard: nb buckets x 4 slots of 16-bit fingerprints (0 =
# empty slot; fingerprints are forced nonzero). i1 = (hash_hi >> 32)
# mod nb, i2 = i1 XOR h(fp) with nb a power of two — the partial-key cuckoo
# property that lets delete/probe recover both buckets from (index, fp)
# alone. Build is VECTORIZED in two placement waves (rank-within-bucket
# via lexsort, no per-item Python for the ~95% that fit) with the
# classic eviction loop only for the residual tail; probe is one numpy
# gather over both candidate buckets.
# ---------------------------------------------------------------------------

CUCKOO_SCHEMA = (
    "shard int, ctable binary, n_items long, n_buckets long, slots int, "
    "n_shards int"
)
_CK_SLOTS = 4
_CK_MAXKICKS = 500
_FP_MUL = np.uint64(0x5BD1E995)


def cuckoo_params(expected_items: int, load: float = 0.84) -> int:
    """Number of buckets (power of two) for 4-slot buckets at ``load``."""
    n = max(1, expected_items)
    nb = 1
    while nb * _CK_SLOTS * load < n:
        nb <<= 1
    return max(nb, 2)


def filter_bytes(tier: str, per_shard: int, n_shards: int) -> int:
    """Total payload bytes of a ``tier`` ("bloom" | "cuckoo") filter built
    for ``per_shard`` keys per shard: bitmap bytes, or 16-bit slots."""
    if tier == "cuckoo":
        return cuckoo_params(per_shard) * _CK_SLOTS * 2 * n_shards
    m, _ = bloom_params(per_shard)
    return (m // 8) * n_shards


def filter_health(tier: str, per_shard: int, n_shards: int, keys: int) -> dict:
    """Fill of a filter holding ``keys`` keys: bloom's estimated
    false-positive rate ``(1 - e^(-k n / m))^k`` or cuckoo's slot load,
    at the mean ``n = keys / n_shards`` keys per shard."""
    n = keys / n_shards
    if tier == "cuckoo":
        return {"load": n / (cuckoo_params(per_shard) * _CK_SLOTS)}
    m, k = bloom_params(per_shard)
    return {"est_fpr": (1.0 - math.exp(-k * n / m)) ** k}


def _ck_fp(lo: np.ndarray) -> np.ndarray:
    """16-bit nonzero fingerprint from url_hash_lo."""
    fp = (lo.astype(np.int64).view(np.uint64) & np.uint64(0xFFFF)).astype(np.uint16)
    fp[fp == 0] = 1
    return fp


def _ck_i1(hi: np.ndarray, nb: int) -> np.ndarray:
    """Primary bucket from the HIGH 32 bits of url_hash_hi: the shard is
    pmod(hash_hi, S), so within one shard the low bits are pinned, and a
    low-bit bucket index would confine every key of the shard to nb / S
    primary buckets (measured: tables then fill at ~45-60% load)."""
    hi = hi.astype(np.int64).view(np.uint64) >> np.uint64(32)
    return (hi % np.uint64(nb)).astype(np.int64)


def _ck_alt(idx: np.ndarray, fp: np.ndarray, nb: int) -> np.ndarray:
    """Partial-key alternate bucket: i XOR h(fp), nb a power of two."""
    h = (fp.astype(np.uint64) * _FP_MUL) & np.uint64(nb - 1)
    return (idx.astype(np.uint64) ^ h).astype(np.int64)


def _ck_place_wave(
    table: np.ndarray, idx: np.ndarray, fp: np.ndarray
) -> np.ndarray:
    """Vectorized placement wave: for each item try bucket ``idx``; items
    whose rank-within-bucket still fits a free slot are written. Returns
    the boolean mask of items PLACED. table is (nb, SLOTS) uint16."""
    if len(idx) == 0:
        return np.zeros(0, dtype=bool)
    free = (table[idx] == 0).sum(axis=1)  # free slots in my bucket
    order = np.argsort(idx, kind="stable")
    sidx = idx[order]
    # rank of each item within its bucket (0-based) via run-position
    starts = np.r_[0, np.nonzero(np.diff(sidx))[0] + 1]
    run_id = np.zeros(len(sidx), dtype=np.int64)
    run_id[starts[1:]] = 1
    run_id = np.cumsum(run_id)
    pos_in_run = np.arange(len(sidx)) - starts[run_id]
    placed_sorted = pos_in_run < free[order]  # free is per-item: realign
    placed = np.zeros(len(idx), dtype=bool)
    placed[order] = placed_sorted
    # write: each placed item takes the (pos_in_run+1)-th EMPTY slot of
    # its bucket. Empty slots need not be contiguous after deletions, so
    # enumerate them per bucket: stable argsort of the occupied mask puts
    # empty slot indices first, in ascending order.
    empty_order = np.argsort(table[idx] != 0, axis=1, kind="stable")
    worder = order[placed_sorted]
    slot = empty_order[worder, pos_in_run[placed_sorted]]
    table[idx[worder], slot] = fp[worder]
    return placed


def _ck_insert_all(
    table: np.ndarray, hi: np.ndarray, lo: np.ndarray, rng_seed: int = 12345
) -> None:
    """Insert every key, vectorized waves first, eviction loop for the
    tail. Raises when the filter is genuinely full (caller sized too
    small) — the documented cuckoo contract, not silent loss."""
    nb = table.shape[0]
    fp = _ck_fp(lo)
    i1 = _ck_i1(hi, nb)
    placed = _ck_place_wave(table, i1, fp)
    rem = ~placed
    if rem.any():
        i2 = _ck_alt(i1[rem], fp[rem], nb)
        placed2 = _ck_place_wave(table, i2, fp[rem])
        rem_idx = np.nonzero(rem)[0][~placed2]
    else:
        rem_idx = np.zeros(0, dtype=np.int64)
    # residual tail: classic kicks. Deterministic "random" slot choice via
    # a counter hash so builds are reproducible on any executor.
    state = int(rng_seed)
    for j in rem_idx:
        cur_fp = fp[j]
        cur_i = int(i1[j])
        for kick in range(_CK_MAXKICKS):
            bucket = table[cur_i]
            empty = np.nonzero(bucket == 0)[0]
            if len(empty):
                table[cur_i, empty[0]] = cur_fp
                break
            state = (
                state * 6364136223846793005 + 1442695040888963407
            ) & 0xFFFFFFFFFFFFFFFF
            victim_slot = (state >> 61) % _CK_SLOTS
            victim_fp = bucket[victim_slot]
            table[cur_i, victim_slot] = cur_fp
            cur_fp = victim_fp
            cur_i = int(_ck_alt(np.array([cur_i]), np.array([victim_fp], dtype=np.uint16), nb)[0])
        else:
            raise ValueError(
                f"cuckoo filter full after {_CK_MAXKICKS} kicks "
                f"(n_buckets={nb}); size with a larger expected_per_shard"
            )


def _ck_lookup(
    table: np.ndarray, hi: np.ndarray, lo: np.ndarray
) -> np.ndarray:
    """(n,) bool membership — one gather over both candidate buckets."""
    nb = table.shape[0]
    fp = _ck_fp(lo)
    i1 = _ck_i1(hi, nb)
    i2 = _ck_alt(i1, fp, nb)
    f = fp[:, None]
    return ((table[i1] == f) | (table[i2] == f)).any(axis=1)


def _ck_delete_keys(table: np.ndarray, hi: np.ndarray, lo: np.ndarray) -> int:
    """Remove ONE stored copy per delete key (cuckoo delete semantics).
    Deletes are the rare administrative path (stale sweep / facet purge),
    so a per-key loop here is bounded by the purge batch, never the
    corpus; probe/build stay vectorized."""
    nb = table.shape[0]
    fp = _ck_fp(lo)
    i1 = _ck_i1(hi, nb)
    i2 = _ck_alt(i1, fp, nb)
    removed = 0
    for j in range(len(fp)):
        for b in (int(i1[j]), int(i2[j])):
            slots = np.nonzero(table[b] == fp[j])[0]
            if len(slots):
                table[b, slots[0]] = 0
                removed += 1
                break
    return removed


# ---------------------------------------------------------------------------
# One lifecycle for both tiers. A tier is its shard-row schema plus a few
# numpy kernels over one shard's table; the Spark scaffolds below (build,
# grow, broadcast probe, cogrouped probe) are written once against them.
# ---------------------------------------------------------------------------


class _Tier(NamedTuple):
    schema: str
    #: (per_shard, sizing knob) -> the shard row's geometry columns
    geometry: Callable[..., dict]
    #: geometry -> an empty table
    blank: Callable[[dict], object]
    #: shard row (Spark Row or pandas Series) -> a writable table
    decode: Callable[[object], object]
    #: table -> its payload and geometry columns
    encode: Callable[[object], dict]
    #: (table, hi, lo) -> None; sets the keys in place
    insert: Callable
    #: (table, hi, lo) -> (n,) bool membership
    lookup: Callable
    #: (table, hi, lo) -> keys removed; None for an append-only tier
    delete: Callable | None = None


def _bloom_geometry(per_shard: int, fpr: float = 0.01) -> dict:
    m, k = bloom_params(per_shard, fpr)
    return {"m_bits": m, "k": k}


def _bloom_blank(geo: dict) -> tuple:
    return np.zeros(geo["m_bits"] // 8, dtype=np.uint8), geo["m_bits"], geo["k"]


def _bloom_decode(r) -> tuple:
    bits = np.frombuffer(r["bloom"], dtype=np.uint8).copy()
    return bits, int(r["m_bits"]), int(r["k"])


def _bloom_encode(t: tuple) -> dict:
    bits, m, k = t
    return {"bloom": bits.tobytes(), "m_bits": m, "k": k}


def _bloom_insert(t: tuple, hi: np.ndarray, lo: np.ndarray) -> None:
    bits, m, k = t
    _set_bits(bits, _positions(hi, lo, k, m))


def _bloom_lookup(t: tuple, hi: np.ndarray, lo: np.ndarray) -> np.ndarray:
    bits, m, k = t
    return _test_bits(bits, _positions(hi, lo, k, m))


def _ck_geometry(per_shard: int, load: float = 0.84) -> dict:
    return {"n_buckets": cuckoo_params(per_shard, load), "slots": _CK_SLOTS}


def _ck_blank(geo: dict) -> np.ndarray:
    return np.zeros((geo["n_buckets"], _CK_SLOTS), dtype=np.uint16)


def _ck_decode(r) -> np.ndarray:
    table = np.frombuffer(r["ctable"], dtype=np.uint16).copy()
    return table.reshape(int(r["n_buckets"]), _CK_SLOTS)


def _ck_encode(table: np.ndarray) -> dict:
    return {
        "ctable": table.tobytes(), "n_buckets": table.shape[0],
        "slots": _CK_SLOTS,
    }


BLOOM = _Tier(
    BLOOM_SCHEMA, _bloom_geometry, _bloom_blank, _bloom_decode,
    _bloom_encode, _bloom_insert, _bloom_lookup,
)
CUCKOO = _Tier(
    CUCKOO_SCHEMA, _ck_geometry, _ck_blank, _ck_decode, _ck_encode,
    _ck_insert_all, _ck_lookup, _ck_delete_keys,
)


def _tier_of(filt: DataFrame) -> _Tier:
    """The tier of a filter table, from its schema (driver-side, no job)."""
    return CUCKOO if "ctable" in filt.columns else BLOOM


def _shard_row(tier: _Tier, shard: int, table, n_items: int, n_shards: int):
    return pd.DataFrame([{
        "shard": shard, **tier.encode(table), "n_items": n_items,
        "n_shards": n_shards,
    }])


def _build(
    keys: DataFrame, tier: _Tier, n_shards: int, per_shard: int | None, *knob
) -> DataFrame:
    """Build scaffold: one reduce task per shard inserts the shard's keys
    into a blank table. ``per_shard=None`` sizes from the input count
    (one count job); ``knob`` is the tier's sizing knob (fpr / load)."""
    if per_shard is None:
        per_shard = max(64, (2 * keys.count()) // max(1, n_shards))
    geo = tier.geometry(per_shard, *knob)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        table = tier.blank(geo)
        tier.insert(
            table, pdf["url_hash_hi"].to_numpy(), pdf["url_hash_lo"].to_numpy()
        )
        shard = int(pdf["shard"].iloc[0])
        return _shard_row(tier, shard, table, len(pdf), n_shards)

    return (
        keys.select("url_hash_hi", "url_hash_lo")
        .withColumn("shard", shard_expr(F.col("url_hash_hi"), n_shards))
        .groupBy("shard")
        .applyInPandas(build, tier.schema)
    )


def _grow(
    filt: DataFrame, keys: DataFrame, tier: _Tier, n_shards: int,
    per_shard: int, delete: bool = False,
) -> DataFrame:
    """Grow (or, for a deletable tier, shrink) scaffold: keys co-group
    with their shard's standing row and are set straight into its table —
    one Python stage, and the whole filter never rides one task or the
    driver. The geometry is the caller's (the round loop's recorded
    filter geometry), so no job reads it from the table: a shard with no
    standing row starts blank at that geometry, and a standing row at any
    other geometry raises."""
    want = {"n_shards": n_shards, **tier.geometry(per_shard)}

    def grow(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if right.empty:
            table, n, shard = tier.blank(want), 0, int(left["__shard"].iloc[0])
        else:
            row = right.iloc[0]
            got = {c: int(row[c]) for c in want}
            if got != want:
                raise ValueError(
                    f"standing filter shard {int(row['shard'])} has geometry "
                    f"{got}, not the {want} it is grown at"
                )
            table, n = tier.decode(row), int(row["n_items"])
            shard = int(row["shard"])
        if not left.empty:
            hi = left["url_hash_hi"].to_numpy()
            lo = left["url_hash_lo"].to_numpy()
            if delete:
                n -= tier.delete(table, hi, lo)
            else:
                tier.insert(table, hi, lo)
                n += len(left)
        return _shard_row(tier, shard, table, n, n_shards)

    keyed = keys.select("url_hash_hi", "url_hash_lo").withColumn(
        "__shard", shard_expr(F.col("url_hash_hi"), n_shards)
    )
    return (
        keyed.groupBy("__shard")
        .cogroup(filt.groupBy("shard"))
        .applyInPandas(grow, tier.schema)
    )


def probe_with_broadcast(candidates: DataFrame, filt: DataFrame) -> DataFrame:
    """Append ``maybe_seen`` by probing driver-collected, broadcast tables
    of either tier: a shard->table dict, gathered per Arrow batch.

    Best when the whole filter fits comfortably in memory (it does for
    every local test/bench size). The UDF is one numpy gather per batch.
    """
    tier = _tier_of(filt)
    spark = candidates.sparkSession
    rows = filt.collect()
    if not rows:
        return candidates.withColumn("maybe_seen", F.lit(False))
    n_shards = rows[0]["n_shards"]  # carried in the table; NEVER inferred
    table = {r["shard"]: tier.decode(r) for r in rows}
    bc = spark.sparkContext.broadcast(table)

    @F.pandas_udf("boolean")
    def probe(hi: pd.Series, lo: pd.Series, shard: pd.Series) -> pd.Series:
        t = bc.value
        out = np.zeros(len(hi), dtype=bool)
        hiv, lov, sv = hi.to_numpy(), lo.to_numpy(), shard.to_numpy()
        for s in np.unique(sv):
            ent = t.get(int(s))
            if ent is None:
                continue
            mask = sv == s
            out[mask] = tier.lookup(ent, hiv[mask], lov[mask])
        return pd.Series(out)

    return candidates.withColumn(
        "maybe_seen",
        probe(
            F.col("url_hash_hi"),
            F.col("url_hash_lo"),
            shard_expr(F.col("url_hash_hi"), n_shards),
        ),
    )


def probe_cogrouped(
    candidates: DataFrame, filt: DataFrame, n_shards: int
) -> DataFrame:
    """Append ``maybe_seen`` without broadcasting: co-group candidates with
    their shard's table (either tier). The 10^10-URL path — per-task
    memory is one table + one candidate partition, independent of total
    filter size. ``n_shards`` is the filter's recorded shard count; a
    shard row built at another count raises at the action (candidates
    sharded by the wrong count would report seen urls as new)."""
    tier = _tier_of(filt)
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in candidates.schema.fields
    )
    schema = f"{out_fields}, maybe_seen boolean"
    cols = [f.name for f in candidates.schema.fields]

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        res = left.drop(columns=["__shard"])
        if not right.empty and int(right["n_shards"].iloc[0]) != n_shards:
            raise ValueError(
                f"filter shard {int(right['shard'].iloc[0])} was built with "
                f"{int(right['n_shards'].iloc[0])} shards, not {n_shards}"
            )
        if right.empty or left.empty:
            res["maybe_seen"] = False
            return res
        res["maybe_seen"] = tier.lookup(
            tier.decode(right.iloc[0]),
            left["url_hash_hi"].to_numpy(),
            left["url_hash_lo"].to_numpy(),
        )
        return res

    cand = candidates.withColumn("__shard", shard_expr(F.col("url_hash_hi"), n_shards))
    return (
        cand.groupBy("__shard")
        .cogroup(filt.groupBy("shard"))
        .applyInPandas(probe, schema)
        .select(*cols, "maybe_seen")
    )


# ---------------------------------------------------------------------------
# Public lifecycle per tier: build, grow (bloom_union / cuckoo_insert),
# cuckoo delete; then the tiered dedup.
# ---------------------------------------------------------------------------


def bloom_build(
    keys: DataFrame,
    n_shards: int = 32,
    fpr: float = 0.01,
    expected_per_shard: int | None = None,
) -> DataFrame:
    """Build the sharded Bloom table from (url_hash_hi, url_hash_lo) rows.

    One reduce task per shard; inside the task everything is numpy.
    ``expected_per_shard`` sizes the bitmaps; default assumes the input
    count is representative (callers at scale pass their frontier-size
    forecast so bitmaps don't need rebuilds as rounds append).
    """
    return _build(keys, BLOOM, n_shards, expected_per_shard, fpr)


def bloom_union(
    bloom: DataFrame, keys: DataFrame, n_shards: int, per_shard: int
) -> DataFrame:
    """Grow a bloom table by ``keys`` at its geometry (``n_shards``
    shards sized for ``per_shard`` keys): each key's bits are set straight
    into its shard's standing bitmap — the same bits as OR-ing in a delta
    built at that geometry, in one cogrouped stage."""
    return _grow(bloom, keys, BLOOM, n_shards, per_shard)


def cuckoo_build(
    keys: DataFrame,
    n_shards: int = 32,
    expected_per_shard: int | None = None,
    load: float = 0.84,
) -> DataFrame:
    """Build the sharded cuckoo table from (url_hash_hi, url_hash_lo)
    rows — same contract as :func:`bloom_build`, one reduce task per
    shard, numpy inside."""
    return _build(keys, CUCKOO, n_shards, expected_per_shard, load)


def cuckoo_insert(
    cuckoo: DataFrame, keys: DataFrame, n_shards: int, per_shard: int
) -> DataFrame:
    """Grow a cuckoo table by ``keys`` at its geometry — the same
    cogrouped scaffold as :func:`bloom_union`; a cuckoo table absorbs the
    key batch in place and stays deletable."""
    return _grow(cuckoo, keys, CUCKOO, n_shards, per_shard)


def cuckoo_delete(
    cuckoo: DataFrame, purged_keys: DataFrame, n_shards: int, per_shard: int
) -> DataFrame:
    """Deletion — the capability the Bloom tier lacks: evict purged URLs
    (stale sweep D4, delete-by-facet D5) so the approximate tier stops
    claiming them. Safe only for keys that WERE inserted (the standard
    cuckoo precondition; deleting a never-inserted key can evict a
    colliding fingerprint and break no-false-negative for its owner)."""
    return _grow(cuckoo, purged_keys, CUCKOO, n_shards, per_shard, delete=True)


def probe_seen(
    candidates: DataFrame, filt: DataFrame, n_shards: int, broadcast: bool
) -> DataFrame:
    """Append ``maybe_seen`` from ``filt``: the broadcast probe, or the
    cogrouped one at the filter's recorded ``n_shards``."""
    if broadcast:
        return probe_with_broadcast(candidates, filt)
    return probe_cogrouped(candidates, filt, n_shards)


def dedup_against_seen(
    candidates: DataFrame,
    seen_exact: DataFrame | None,
    filt: DataFrame | None = None,
    n_shards: int = 32,
    broadcast: bool = True,
) -> DataFrame:
    """Return only candidates NOT in the seen set (reference analog: the
    unique-index upsert D1/D2 turning re-crawls into no-ops).

    An approximate pre-filter ``filt`` (a bloom or cuckoo table; the tier
    is read from its schema) splits candidates into definitely-new
    (filter says no; no join at all — zero false negatives guarantee) and
    maybe-seen, which alone pays the exact ``left_anti`` join. Without a
    filter, plain anti.

    The split reads the probed candidates twice, once per branch. A
    caller that passes candidates already probed by :func:`probe_seen`
    (and persisted) is split on their ``maybe_seen`` column with no
    ``filt``, so the probe runs once.

    An approximate tier WITHOUT an exact tier cannot prove membership —
    treating its 'maybe' slice as seen would silently drop ~fpr of
    genuinely-new URLs — so with ``seen_exact=None`` every candidate is
    returned unfiltered.
    """
    if seen_exact is None:
        return candidates
    exact = seen_exact.select("url_hash_hi", "url_hash_lo")
    key = ["url_hash_hi", "url_hash_lo"]
    if filt is not None:
        candidates = probe_seen(candidates, filt, n_shards, broadcast)
    elif "maybe_seen" not in candidates.columns:
        return candidates.join(exact, key, "left_anti")
    definitely_new = candidates.filter(~F.col("maybe_seen")).drop("maybe_seen")
    maybe = candidates.filter(F.col("maybe_seen")).drop("maybe_seen")
    return definitely_new.unionByName(maybe.join(exact, key, "left_anti"))
