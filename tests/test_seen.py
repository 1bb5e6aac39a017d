"""Seen-set tests: Bloom property tests (zero false negatives, bounded FPR),
in-place growth at explicit geometry, cogrouped vs broadcast probe
parity, tiered dedup equals plain anti-join (the reference's unique-index
upsert semantics)."""

from __future__ import annotations

import re

import pyspark.sql.functions as F
import pytest

from metadata_crawler_spark.functions.urls import with_url_hash
from metadata_crawler_spark.operators.seen import (
    bloom_build,
    bloom_params,
    bloom_union,
    cuckoo_params,
    dedup_against_seen,
    probe_cogrouped,
    probe_seen,
    probe_with_broadcast,
)

N_SHARDS = 8


@pytest.fixture(scope="module")
def keys(spark):
    df = spark.range(0, 4000).select(
        F.concat(F.lit("https://h"), (F.col("id") % 97), F.lit(".example.com/p/"), "id").alias("url")
    )
    return with_url_hash(df).cache()


def test_bloom_params_sane():
    m, k = bloom_params(1000, 0.01)
    assert m % 8 == 0 and m > 9000
    assert 1 <= k <= 16


def test_zero_false_negatives_and_fpr(spark, keys):
    inserted = keys.filter(F.col("url_hash_hi") % 2 == 0)
    absent = keys.filter(F.col("url_hash_hi") % 2 != 0)
    bloom = bloom_build(inserted, N_SHARDS, fpr=0.01).cache()
    probed_in = probe_with_broadcast(inserted, bloom)
    assert probed_in.filter(~F.col("maybe_seen")).count() == 0  # no false negatives
    fp = probe_with_broadcast(absent, bloom).filter(F.col("maybe_seen")).count()
    fpr = fp / max(1, absent.count())
    assert fpr < 0.05  # target 0.01, generous bound


def test_cogrouped_probe_matches_broadcast(spark, keys):
    inserted = keys.limit(1500)
    bloom = bloom_build(inserted, N_SHARDS, fpr=0.01).cache()
    a = probe_with_broadcast(keys, bloom).select("url", "maybe_seen")
    b = probe_cogrouped(keys, bloom, N_SHARDS).select("url", "maybe_seen")
    assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


def _pandas_nodes(df) -> list[str]:
    """Python-worker nodes of a frame's optimized plan (no job runs)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.findall(r"\b\w+(?:InPandas|EvalPython)\b", plan)


def _shard_rows(df) -> dict:
    return {
        r.shard: (bytes(r.bloom), r.n_items, r.m_bits, r.k, r.n_shards)
        for r in df.collect()
    }


def test_bloom_union_is_or(spark, keys, tmp_path):
    """Growing a bloom table by B's keys sets the same bits as building
    A + B at the same geometry: per-shard rows are identical, for shards
    in both, in A only and in B only — in one Python stage."""
    shard = F.pmod("url_hash_hi", F.lit(N_SHARDS))
    a = keys.filter((F.col("url_hash_lo") % 3 == 0) & (shard != 5))
    b = keys.filter((F.col("url_hash_lo") % 3 == 1) & (shard != 6))
    per_shard = 2 * 4000 // N_SHARDS
    path = str(tmp_path / "bloom")
    bloom_build(a, N_SHARDS, expected_per_shard=per_shard).write.parquet(path)
    standing = spark.read.parquet(path)
    grown = bloom_union(standing, b, N_SHARDS, per_shard)
    assert _pandas_nodes(grown) == ["FlatMapCoGroupsInPandas"]
    want = _shard_rows(
        bloom_build(a.unionByName(b), N_SHARDS, expected_per_shard=per_shard)
    )
    got = _shard_rows(grown)
    assert 5 not in _shard_rows(standing) and 5 in got
    assert got == want and len(got) == N_SHARDS


def test_dedup_tiers_equal_plain_antijoin(spark, keys):
    seen = keys.filter(F.col("url_hash_hi") % 5 == 0).select(
        "url_hash_hi", "url_hash_lo"
    )
    bloom = bloom_build(seen, N_SHARDS, 0.01)
    tiered = dedup_against_seen(keys, seen, bloom, N_SHARDS).select("url")
    plain = dedup_against_seen(keys, seen, None).select("url")
    assert tiered.exceptAll(plain).count() == 0
    assert plain.exceptAll(tiered).count() == 0


@pytest.mark.parametrize("broadcast", [True, False])
def test_persisted_probe_dedups_like_plain_antijoin(
    spark, keys, probe_nodes, broadcast
):
    """Candidates probed once (probe_seen, persisted) split to exactly
    the plain anti-join's rows: new keys kept, seen keys dropped, and
    keys the filter holds but the exact tier does not (forced false
    positives) kept. The split reads the probe from the cache, so its
    plan runs one probe node; unpersisted, each branch probes."""
    key = ["url_hash_hi", "url_hash_lo"]
    seen = keys.filter(F.col("url_hash_hi") % 5 == 0).select(*key)
    false_pos = keys.filter(F.col("url_hash_hi") % 50 == 1).select(*key)
    bloom = bloom_build(seen.unionByName(false_pos), N_SHARDS, 0.01).cache()
    probed = probe_seen(keys, bloom, N_SHARDS, broadcast)
    assert probe_nodes(dedup_against_seen(probed, seen)) == 2
    probed = probed.persist()
    try:
        forced = probed.join(false_pos, key, "left_semi")
        assert forced.count() > 0
        assert forced.filter(~F.col("maybe_seen")).count() == 0
        got = dedup_against_seen(probed, seen)
        assert probe_nodes(got) == 1
        want = dedup_against_seen(keys, seen, None)
        cols = ["url", *key]
        assert sorted(map(tuple, got.select(cols).collect())) == sorted(
            map(tuple, want.select(cols).collect())
        )
        assert got.join(false_pos, key, "left_semi").count() == forced.count()
    finally:
        probed.unpersist()


def test_empty_bloom_everything_new(spark, keys):
    sample = keys.limit(100)
    empty_bloom = bloom_build(sample.limit(0), N_SHARDS, 0.01, expected_per_shard=64)
    out = dedup_against_seen(sample, None, empty_bloom, N_SHARDS)
    assert out.count() == 100


# ---------------------------------------------------------------------------
# cuckoo-filter tier
# ---------------------------------------------------------------------------


def _cuckoo_imports():
    from metadata_crawler_spark.operators.seen import (
        cuckoo_build,
        cuckoo_delete,
        cuckoo_insert,
    )

    return (
        cuckoo_build, cuckoo_delete, cuckoo_insert,
        probe_with_broadcast, probe_cogrouped,
    )


def test_cuckoo_zero_false_negatives_and_fpr(spark, keys):
    build, _, _, probe_b, _ = _cuckoo_imports()
    ck = build(keys, n_shards=N_SHARDS).cache()
    probed = probe_b(keys, ck)
    assert probed.filter(~F.col("maybe_seen")).count() == 0  # no false negs
    fresh = with_url_hash(
        spark.range(100_000, 104_000).select(
            F.concat(F.lit("https://new"), (F.col("id") % 31),
                     F.lit(".example.org/x/"), "id").alias("url")
        )
    )
    fp = probe_b(fresh, ck).filter("maybe_seen").count()
    assert fp / 4000 < 0.01  # 16-bit fingerprints: fpr well under 1%


def test_cuckoo_cogrouped_matches_broadcast(spark, keys):
    build, _, _, probe_b, probe_c = _cuckoo_imports()
    ck = build(keys, n_shards=N_SHARDS).cache()
    mixed = keys.unionByName(
        with_url_hash(
            spark.range(0, 500).select(
                F.concat(F.lit("https://other.example.net/"), "id").alias("url")
            )
        )
    )
    a = sorted(r.url for r in probe_b(mixed, ck).filter("maybe_seen").collect())
    b = sorted(r.url for r in probe_c(mixed, ck, N_SHARDS).filter("maybe_seen").collect())
    assert a == b


def test_cuckoo_delete_evicts(spark, keys):
    build, delete, _, probe_b, _ = _cuckoo_imports()
    ck = build(keys, n_shards=N_SHARDS, expected_per_shard=1000)
    purged = keys.filter(F.col("url").endswith("/p/7")).cache()
    kept = keys.subtract(purged)
    ck2 = delete(ck, purged, N_SHARDS, 1000).cache()
    # kept keys: still zero false negatives
    assert probe_b(kept, ck2).filter(~F.col("maybe_seen")).count() == 0
    # purged keys: gone (16-bit fp collisions could leave stragglers, but
    # on this fixture the filter is sparse enough for an exact assert)
    assert probe_b(purged, ck2).filter("maybe_seen").count() == 0


def test_cuckoo_insert_evolution(spark, keys):
    build, _, insert, probe_b, _ = _cuckoo_imports()
    old = keys.filter(F.col("url_hash_hi") % 2 == 0).cache()
    new = keys.subtract(old).cache()
    ck = insert(build(old, n_shards=N_SHARDS, expected_per_shard=2000),
                new, N_SHARDS, 2000).cache()
    assert probe_b(keys, ck).filter(~F.col("maybe_seen")).count() == 0
    # n_items accounting survives the round trip
    total = sum(r.n_items for r in ck.collect())
    assert total == keys.count()


def test_cuckoo_dedup_matches_plain_antijoin(spark, keys):
    build, _, _, _, _ = _cuckoo_imports()
    seen = keys.filter(F.col("url_hash_lo") % 3 == 0).cache()
    ck = build(seen, n_shards=N_SHARDS).cache()
    want = sorted(
        r.url for r in dedup_against_seen(keys, seen, None).collect()
    )
    for broadcast in (True, False):
        got = sorted(
            r.url
            for r in dedup_against_seen(
                keys, seen, ck, N_SHARDS, broadcast
            ).collect()
        )
        assert got == want


def test_cuckoo_empty_table_geometry(spark, keys):
    """The caller owns the geometry: a zero-key build is an empty table,
    and growing it at explicit geometry creates each shard's table at
    that geometry, with no false negatives under either probe."""
    build, _, insert, probe_b, probe_c = _cuckoo_imports()
    ck0 = build(keys.limit(0), n_shards=N_SHARDS, expected_per_shard=2000)
    assert ck0.count() == 0
    ck1 = insert(ck0, keys, N_SHARDS, 2000).cache()
    rows = ck1.collect()
    assert len(rows) == N_SHARDS
    assert {(r.n_shards, r.n_buckets) for r in rows} == {
        (N_SHARDS, cuckoo_params(2000))
    }
    assert sum(r.n_items for r in rows) == keys.count()
    assert probe_b(keys, ck1).filter(~F.col("maybe_seen")).count() == 0
    assert (
        probe_c(keys, ck1, N_SHARDS).filter(~F.col("maybe_seen")).count() == 0
    )


@pytest.mark.parametrize("op", ["bloom_union", "cuckoo_insert", "cuckoo_delete"])
def test_grow_refuses_other_geometry(spark, keys, op):
    """Grow and delete take the filter's geometry from the caller, and
    raise when a standing shard row was built at another shard count or
    capacity (m_bits / n_buckets) — keys sharded or placed by a geometry
    the table does not have would be silent false negatives."""
    from metadata_crawler_spark.operators import seen

    build = seen.cuckoo_build if op.startswith("cuckoo") else bloom_build
    grow = getattr(seen, op)
    standing = build(keys, N_SHARDS, expected_per_shard=1000).cache()
    batch = keys.limit(200)
    for n_shards, per_shard in ((2 * N_SHARDS, 1000), (N_SHARDS, 4000)):
        with pytest.raises(Exception, match="standing filter shard"):
            grow(standing, batch, n_shards, per_shard).collect()


def test_cogrouped_probe_refuses_geometry_drift(spark, keys):
    """The cogrouped probe shards candidates by the shard count the
    caller passes (the round loop's recorded filter geometry), so
    planning it submits no job. A filter built with another shard count
    raises at the action: candidates sharded by the wrong count would
    cogroup with the wrong shard rows and report seen urls as new."""
    inserted = keys.limit(1500)
    bloom = bloom_build(inserted, N_SHARDS, fpr=0.01).cache()
    sc = spark.sparkContext
    group = "test_cogrouped_probe_plan"
    sc.setJobGroup(group, "plan the cogrouped probe")
    try:
        planned = dedup_against_seen(
            inserted, inserted, bloom, N_SHARDS, broadcast=False
        )
        drifted = dedup_against_seen(
            inserted, inserted, bloom, N_SHARDS * 4, broadcast=False
        )
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert planned.count() == 0
    with pytest.raises(Exception, match=f"built with {N_SHARDS} shards"):
        drifted.count()
