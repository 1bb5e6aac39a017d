"""URL-seen membership: sharded Bloom filter + exact hash-pair table.

Reference parity: the reference's seen-set is *implicit* — the catalogue
store's unique index on the schema's unique key makes every re-crawled path
an upsert instead of a duplicate (/root/reference/src/metadata_crawler/api/
stores/mongodb.py:135-166 UpdateOne upsert; postgresql.py:240-264
ON CONFLICT DO UPDATE; epoch re-stamping api/stores/base.py:411-425).
That design serializes membership through one database.

Spark-native redesign (north rule): membership = two tiers keyed on the
128-bit xxhash of the canonical URL —

1. **Sharded Bloom filter** (approximate, no false negatives): one bitmap
   per shard, shard = pmod(hash_hi, S). Built per shard with
   ``applyInPandas`` (numpy bit ops, no per-row Python); persisted as a
   tiny table ``(shard, bloom binary, n_items, m_bits, k)``; evolves
   across rounds by bitwise-OR union of a same-geometry delta.
2. **Exact hash-pair table** — only consulted for the Bloom "maybe" slice
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

Probe strategies:
- ``probe_with_broadcast`` — bitmaps collected+broadcast, vectorized
  pandas UDF. Right when total bloom bytes fit in executor memory
  (local mode, or small frontiers).
- ``probe_cogrouped``   — candidates co-grouped with their shard's bitmap
  via ``groupby(shard).cogroup(...).applyInPandas``. Nothing is broadcast;
  shuffle moves only candidate rows. This is the 10^10-URL path: a
  10-bits/key filter over 10^10 keys is ~12 GB total but only
  12 GB / S per shard-task.
"""

from __future__ import annotations

import math

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
    if expected_per_shard is None:
        total = keys.count()
        expected_per_shard = max(64, (2 * total) // max(1, n_shards))
    m, k = bloom_params(expected_per_shard, fpr)

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        bits = np.zeros(m // 8, dtype=np.uint8)
        pos = _positions(pdf["url_hash_hi"].to_numpy(), pdf["url_hash_lo"].to_numpy(), k, m)
        _set_bits(bits, pos)
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "bloom": [bits.tobytes()],
                "n_items": [len(pdf)],
                "m_bits": [m],
                "k": [k],
                "n_shards": [n_shards],
            }
        )

    return (
        keys.select("url_hash_hi", "url_hash_lo")
        .withColumn("shard", shard_expr(F.col("url_hash_hi"), n_shards))
        .groupBy("shard")
        .applyInPandas(build, BLOOM_SCHEMA)
    )


def bloom_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """OR-merge two bloom tables (same sharding + sizing): the cross-round
    evolution path between rebuilds."""

    def merge(pdf: pd.DataFrame) -> pd.DataFrame:
        arrs = [np.frombuffer(x, dtype=np.uint8) for x in pdf["bloom"]]
        bits = np.bitwise_or.reduce(arrs) if len(arrs) > 1 else arrs[0]
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "bloom": [bits.tobytes()],
                "n_items": [int(pdf["n_items"].sum())],
                "m_bits": [int(pdf["m_bits"].iloc[0])],
                "k": [int(pdf["k"].iloc[0])],
                "n_shards": [int(pdf["n_shards"].iloc[0])],
            }
        )

    return a.unionByName(b).groupBy("shard").applyInPandas(merge, BLOOM_SCHEMA)


def _probe_broadcast(candidates, filt, deserialize, lookup) -> DataFrame:
    """Shared broadcast-probe scaffold for every approximate-membership
    tier: driver-collect the sharded tables, broadcast a shard->entry
    dict, gather per Arrow batch. ``deserialize(row) -> entry``,
    ``lookup(entry, hi, lo) -> bool ndarray`` are the ONLY per-tier
    pieces (bloom: bitmap+(m,k) / _test_bits; cuckoo: 2-D table /
    _ck_lookup) — the shard dispatch, empty-filter and column plumbing
    live once, here."""
    spark = candidates.sparkSession
    rows = filt.collect()
    if not rows:
        return candidates.withColumn("maybe_seen", F.lit(False))
    n_shards = rows[0]["n_shards"]  # carried in the table; NEVER inferred
    table = {r["shard"]: deserialize(r) for r in rows}
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
            out[mask] = lookup(ent, hiv[mask], lov[mask])
        return pd.Series(out)

    return candidates.withColumn(
        "maybe_seen",
        probe(
            F.col("url_hash_hi"),
            F.col("url_hash_lo"),
            shard_expr(F.col("url_hash_hi"), n_shards),
        ),
    )


def _probe_cogrouped(
    candidates, filt, n_shards, deserialize_pdf, lookup
) -> DataFrame:
    """Shared cogrouped-probe scaffold (the 10^10-URL path — per-task
    memory is one shard's table + one candidate partition, independent of
    total filter size). Same (deserialize, lookup) contract as
    :func:`_probe_broadcast`, with ``deserialize_pdf`` taking the shard's
    one-row pandas frame."""
    out_fields = ", ".join(
        f"`{f.name}` {f.dataType.simpleString()}" for f in candidates.schema.fields
    )
    schema = f"{out_fields}, maybe_seen boolean"
    cols = [f.name for f in candidates.schema.fields]

    def probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        res = left.drop(columns=["__shard"])
        if right.empty or left.empty:
            res["maybe_seen"] = False
            return res
        ent = deserialize_pdf(right)
        res["maybe_seen"] = lookup(
            ent, left["url_hash_hi"].to_numpy(), left["url_hash_lo"].to_numpy()
        )
        return res

    # geometry comes from the TABLE (the broadcast path's "carried in
    # the table; NEVER inferred" contract): sharding candidates by a
    # caller n_shards that drifted from the filter's build geometry
    # (config change across a resume) would cogroup candidates with the
    # wrong — usually absent — shard rows and report maybe_seen=False
    # for seen urls: silent duplicate crawls. One bounded 1-row read of
    # the column-pruned n_shards field; the caller value is only the
    # empty-filter fallback (where every probe is False anyway).
    geo = filt.select("n_shards").limit(1).collect()
    if geo:
        n_shards = int(geo[0]["n_shards"])
    cand = candidates.withColumn("__shard", shard_expr(F.col("url_hash_hi"), n_shards))
    return (
        cand.groupBy("__shard")
        .cogroup(filt.groupBy("shard"))
        .applyInPandas(probe, schema)
        .select(*cols, "maybe_seen")
    )


def _bloom_deserialize_row(r) -> tuple:
    return (np.frombuffer(r["bloom"], dtype=np.uint8), r["m_bits"], r["k"])


def _bloom_deserialize_pdf(right: pd.DataFrame) -> tuple:
    return (
        np.frombuffer(right["bloom"].iloc[0], dtype=np.uint8),
        int(right["m_bits"].iloc[0]),
        int(right["k"].iloc[0]),
    )


def _bloom_lookup(ent: tuple, hi: np.ndarray, lo: np.ndarray) -> np.ndarray:
    bits, m, k = ent
    return _test_bits(bits, _positions(hi, lo, k, m))


def probe_with_broadcast(candidates: DataFrame, bloom: DataFrame) -> DataFrame:
    """Append ``maybe_seen`` by probing driver-collected, broadcast bitmaps.

    Best when the whole filter fits comfortably in memory (it does for
    every local test/bench size). The UDF is one numpy gather per batch.
    """
    return _probe_broadcast(
        candidates, bloom, _bloom_deserialize_row, _bloom_lookup
    )


def probe_cogrouped(
    candidates: DataFrame, bloom: DataFrame, n_shards: int
) -> DataFrame:
    """Append ``maybe_seen`` without broadcasting: co-group candidates with
    their shard's bitmap. The 10^10-URL path — per-task memory is one
    bitmap + one candidate partition, independent of total filter size."""
    return _probe_cogrouped(
        candidates, bloom, n_shards, _bloom_deserialize_pdf, _bloom_lookup
    )


def dedup_against_seen(
    candidates: DataFrame,
    seen_exact: DataFrame | None,
    bloom: DataFrame | None = None,
    n_shards: int = 32,
    broadcast_bloom: bool = True,
    cuckoo: DataFrame | None = None,
) -> DataFrame:
    """Return only candidates NOT in the seen set (reference analog: the
    unique-index upsert D1/D2 turning re-crawls into no-ops).

    An approximate pre-filter (``bloom``, or the deletable ``cuckoo``
    tier — ``cuckoo`` wins when both are passed) splits candidates into
    definitely-new (filter says no; no join at all — zero false negatives
    guarantee) and maybe-seen, which alone pays the exact ``left_anti``
    join. Without a filter, plain anti.

    An approximate tier WITHOUT an exact tier cannot prove membership —
    treating its 'maybe' slice as seen would silently drop ~fpr of
    genuinely-new URLs — so with ``seen_exact=None`` every candidate is
    returned unfiltered.
    """
    if seen_exact is None:
        return candidates
    if cuckoo is not None:
        probed = (
            cuckoo_probe_broadcast(candidates, cuckoo)
            if broadcast_bloom
            else cuckoo_probe_cogrouped(candidates, cuckoo, n_shards)
        )
    elif bloom is not None:
        probed = (
            probe_with_broadcast(candidates, bloom)
            if broadcast_bloom
            else probe_cogrouped(candidates, bloom, n_shards)
        )
    else:
        probed = None
    if probed is not None:
        definitely_new = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
        maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
        confirmed_new = maybe.join(
            seen_exact.select("url_hash_hi", "url_hash_lo"),
            ["url_hash_hi", "url_hash_lo"],
            "left_anti",
        )
        return definitely_new.unionByName(confirmed_new)
    return candidates.join(
        seen_exact.select("url_hash_hi", "url_hash_lo"),
        ["url_hash_hi", "url_hash_lo"],
        "left_anti",
    )


# ---------------------------------------------------------------------------
# Cuckoo-filter tier (Fan et al. 2014, "Cuckoo Filter: Practically Better
# Than Bloom"). The north-star membership design names BOTH structures:
# the Bloom tier above is append-only (cross-round OR-union), while a
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


def cuckoo_build(
    keys: DataFrame,
    n_shards: int = 32,
    expected_per_shard: int | None = None,
    load: float = 0.84,
) -> DataFrame:
    """Build the sharded cuckoo table from (url_hash_hi, url_hash_lo)
    rows — same contract as :func:`bloom_build`, one reduce task per
    shard, numpy inside."""
    if expected_per_shard is None:
        total = keys.count()
        expected_per_shard = max(64, (2 * total) // max(1, n_shards))
        empty = total == 0
    else:
        empty = keys.isEmpty()
    nb = cuckoo_params(expected_per_shard, load)
    if empty:
        # A zero-key build must still pin the shard geometry: an empty
        # result frame would leave the next cuckoo_insert with no
        # (n_shards, n_buckets) to honor (it now fails loud rather than
        # inventing defaults). Emit one zeroed table per shard.
        spark = keys.sparkSession
        blank = np.zeros((nb, _CK_SLOTS), dtype=np.uint16).tobytes()
        return spark.createDataFrame(
            [(s, blank, 0, nb, _CK_SLOTS, n_shards) for s in range(n_shards)],
            CUCKOO_SCHEMA,
        )

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        table = np.zeros((nb, _CK_SLOTS), dtype=np.uint16)
        _ck_insert_all(
            table, pdf["url_hash_hi"].to_numpy(), pdf["url_hash_lo"].to_numpy()
        )
        return pd.DataFrame(
            {
                "shard": [int(pdf["shard"].iloc[0])],
                "ctable": [table.tobytes()],
                "n_items": [len(pdf)],
                "n_buckets": [nb],
                "slots": [_CK_SLOTS],
                "n_shards": [n_shards],
            }
        )

    return (
        keys.select("url_hash_hi", "url_hash_lo")
        .withColumn("shard", shard_expr(F.col("url_hash_hi"), n_shards))
        .groupBy("shard")
        .applyInPandas(build, CUCKOO_SCHEMA)
    )


def _ck_mutate(
    cuckoo: DataFrame, keys: DataFrame, delete: bool
) -> DataFrame:
    """Shared cogrouped insert/delete: keys co-group with their shard's
    table; the whole filter never rides one task or the driver."""
    head = cuckoo.select("n_shards", "n_buckets").first()
    if head is None:
        # An EMPTY standing table carries no shard geometry. Silently
        # inventing defaults (32/1024) would shard the new keys under a
        # different pmod than the fleet's configured n_shards — later
        # probes at the real n_shards would miss them (silent false
        # negatives = duplicate crawls). Fail loud; the caller owns the
        # geometry and should cuckoo_build() the first batch instead.
        raise ValueError(
            "cuckoo_insert/cuckoo_delete on an EMPTY standing table: shard "
            "geometry (n_shards, n_buckets) is unknowable. Build the first "
            "batch with cuckoo_build(keys, n_shards=...) instead."
        )
    n_shards = int(head[0])
    global_nb = int(head[1])

    def apply(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if right.empty:
            if delete or left.empty:
                return pd.DataFrame(
                    columns=[
                        "shard", "ctable", "n_items", "n_buckets", "slots",
                        "n_shards",
                    ]
                )
            # inserts into a shard the build never saw: start a fresh
            # table at the fleet's bucket count (never drop keys)
            table = np.zeros((global_nb, _CK_SLOTS), dtype=np.uint16)
            _ck_insert_all(
                table, left["url_hash_hi"].to_numpy(), left["url_hash_lo"].to_numpy()
            )
            return pd.DataFrame(
                {
                    "shard": [int(left["__shard"].iloc[0])],
                    "ctable": [table.tobytes()],
                    "n_items": [len(left)],
                    "n_buckets": [global_nb],
                    "slots": [_CK_SLOTS],
                    "n_shards": [n_shards],
                }
            )
        nb = int(right["n_buckets"].iloc[0])
        table = (
            np.frombuffer(right["ctable"].iloc[0], dtype=np.uint16)
            .reshape(nb, _CK_SLOTS)
            .copy()
        )
        n = int(right["n_items"].iloc[0])
        if not left.empty:
            hi = left["url_hash_hi"].to_numpy()
            lo = left["url_hash_lo"].to_numpy()
            if delete:
                n -= _ck_delete_keys(table, hi, lo)
            else:
                _ck_insert_all(table, hi, lo)
                n += len(left)
        return pd.DataFrame(
            {
                "shard": [int(right["shard"].iloc[0])],
                "ctable": [table.tobytes()],
                "n_items": [n],
                "n_buckets": [nb],
                "slots": [_CK_SLOTS],
                "n_shards": [int(right["n_shards"].iloc[0])],
            }
        )

    keyed = keys.select("url_hash_hi", "url_hash_lo").withColumn(
        "__shard", shard_expr(F.col("url_hash_hi"), n_shards)
    )
    return (
        keyed.groupBy("__shard")
        .cogroup(cuckoo.groupBy("shard"))
        .applyInPandas(apply, CUCKOO_SCHEMA)
    )


def cuckoo_insert(cuckoo: DataFrame, new_keys: DataFrame) -> DataFrame:
    """Cross-round evolution: insert new keys into the standing filter
    (the cuckoo analog of :func:`bloom_union` — tables can't be OR-merged,
    they absorb key batches instead)."""
    return _ck_mutate(cuckoo, new_keys, delete=False)


def cuckoo_delete(cuckoo: DataFrame, purged_keys: DataFrame) -> DataFrame:
    """Deletion — the capability the Bloom tier lacks: evict purged URLs
    (stale sweep D4, delete-by-facet D5) so the approximate tier stops
    claiming them. Safe only for keys that WERE inserted (the standard
    cuckoo precondition; deleting a never-inserted key can evict a
    colliding fingerprint and break no-false-negative for its owner)."""
    return _ck_mutate(cuckoo, purged_keys, delete=True)


def _ck_deserialize_row(r) -> np.ndarray:
    return np.frombuffer(r["ctable"], dtype=np.uint16).reshape(
        r["n_buckets"], _CK_SLOTS
    )


def _ck_deserialize_pdf(right: pd.DataFrame) -> np.ndarray:
    return np.frombuffer(right["ctable"].iloc[0], dtype=np.uint16).reshape(
        int(right["n_buckets"].iloc[0]), _CK_SLOTS
    )


def cuckoo_probe_broadcast(candidates: DataFrame, cuckoo: DataFrame) -> DataFrame:
    """Append ``maybe_seen`` by probing driver-collected broadcast tables
    (the local/small-filter path, mirroring :func:`probe_with_broadcast`)."""
    return _probe_broadcast(
        candidates, cuckoo, _ck_deserialize_row, _ck_lookup
    )


def cuckoo_probe_cogrouped(
    candidates: DataFrame, cuckoo: DataFrame, n_shards: int
) -> DataFrame:
    """The 10^10-URL probe: co-group candidates with their shard's table —
    per-task memory is one shard table + one candidate partition."""
    return _probe_cogrouped(
        candidates, cuckoo, n_shards, _ck_deserialize_pdf, _ck_lookup
    )
