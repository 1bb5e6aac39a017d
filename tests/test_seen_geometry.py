"""The seen filter's geometry lifecycle in the round loop: the filter is
built at a geometry derived from the seen count, that geometry is
recorded in the manifest, later rounds evolve the filter at the recorded
geometry, and a rebuild happens when the config's tier or shard count
differs from the record, when the record is missing, or when the seen
count outgrows the capacity. None of this may change what is crawled."""

from __future__ import annotations

import json
import os

import pytest

from metadata_crawler_spark.plans import round_loop
from metadata_crawler_spark.plans.round_loop import CrawlConfig, Crawler

ROUNDS = 5


def _crawler(spark, fixture_dir, tables, ckpt, **cfg) -> Crawler:
    return Crawler(
        spark=spark,
        pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"],
        hosts=tables["hosts"],
        checkpoint_dir=ckpt,
        config=CrawlConfig(**cfg),
    )


def _scheduled(spark, ckpt, r):
    return spark.read.parquet(
        os.path.join(ckpt, f"round={r:05d}", "scheduled")
    ).select("url", "url_hash_hi", "url_hash_lo").toPandas()


def _manifest(ckpt) -> dict:
    with open(os.path.join(ckpt, "manifest.json")) as fh:
        return json.load(fh)


def _filter_records(ckpt) -> list[dict]:
    state = _manifest(ckpt)
    return [state[f"r{r}"]["seen_filter"] for r in range(ROUNDS)]


@pytest.fixture(scope="module")
def straight(spark, fixture_dir, tables, tmp_path_factory):
    """Per-round scheduled urls of a straight 8-shard bloom crawl at the
    default filter floor."""
    ck = str(tmp_path_factory.mktemp("ckpt_geo_straight"))
    res = _crawler(spark, fixture_dir, tables, ck, n_shards=8).run(
        tables["seeds"], rounds=ROUNDS
    )
    assert len(res) == ROUNDS and all(r["scheduled"] > 0 for r in res)
    return [sorted(_scheduled(spark, ck, r)["url"]) for r in range(ROUNDS)]


def _assert_same_crawl(spark, ckpt, want) -> None:
    got = [_scheduled(spark, ckpt, r) for r in range(ROUNDS)]
    keys = [k for g in got for k in zip(g["url_hash_hi"], g["url_hash_lo"])]
    assert len(keys) == len(set(keys)), "a url was scheduled twice"
    for r, g in enumerate(got):
        assert sorted(g["url"]) == want[r], f"round {r}"


@pytest.mark.parametrize("legacy", [False, True], ids=["recorded", "legacy"])
@pytest.mark.parametrize("tier", ["bloom", "cuckoo"])
def test_resume_under_other_shard_count(
    spark, fixture_dir, tables, tmp_path_factory, straight, tier, legacy
):
    """2 rounds at n_shards=8, then a resume to 5 rounds at n_shards=16:
    the resume rebuilds the filter at 16 shards once and then evolves it,
    and the crawl equals the straight 8-shard run. ``legacy`` deletes
    the geometry record first, as in a checkpoint written before it
    existed."""
    ck = str(tmp_path_factory.mktemp(f"ckpt_geo_drift_{tier}"))
    seeds = tables["seeds"]
    _crawler(spark, fixture_dir, tables, ck, n_shards=8, seen_filter=tier).run(
        seeds, rounds=2
    )
    if legacy:
        state = _manifest(ck)
        for v in state.values():
            if isinstance(v, dict):
                v.pop("seen_filter", None)
        with open(os.path.join(ck, "manifest.json"), "w") as fh:
            json.dump(state, fh)
    res = _crawler(
        spark, fixture_dir, tables, ck, n_shards=16, seen_filter=tier
    ).run(seeds, rounds=ROUNDS)
    assert [r["round"] for r in res] == [2, 3, 4]
    _assert_same_crawl(spark, ck, straight)
    assert [r["seen_filter"]["rebuilt"] for r in res] == [True, False, False]
    assert {r["seen_filter"]["n_shards"] for r in res} == {16}
    last = spark.read.parquet(os.path.join(ck, f"round={ROUNDS - 1:05d}", "bloom"))
    assert {r["n_shards"] for r in last.select("n_shards").distinct().collect()} == {16}


@pytest.mark.parametrize("tier", ["bloom", "cuckoo"])
def test_tiny_floor_filter_grows(
    spark, fixture_dir, tables, tmp_path_factory, straight, monkeypatch, tier
):
    """A 16-keys-per-shard floor: the filter outgrows its capacity and is
    rebuilt larger, never past its design fill, and the crawl — straight
    or resumed on a fresh Crawler — equals the default-floor run."""
    from metadata_crawler_spark.operators.seen import filter_health

    monkeypatch.setattr(round_loop, "FILTER_MIN_PER_SHARD", 16)
    seeds = tables["seeds"]
    ck_a = str(tmp_path_factory.mktemp(f"ckpt_geo_tiny_{tier}"))
    ck_b = str(tmp_path_factory.mktemp(f"ckpt_geo_tiny_resumed_{tier}"))
    cfg = dict(n_shards=8, seen_filter=tier)
    res = _crawler(spark, fixture_dir, tables, ck_a, **cfg).run(
        seeds, rounds=ROUNDS
    )
    _crawler(spark, fixture_dir, tables, ck_b, **cfg).run(seeds, rounds=2)
    _crawler(spark, fixture_dir, tables, ck_b, **cfg).run(seeds, rounds=ROUNDS)
    _assert_same_crawl(spark, ck_a, straight)
    _assert_same_crawl(spark, ck_b, straight)

    recs = _filter_records(ck_a)
    assert recs == _filter_records(ck_b)
    per_shard = [r["per_shard"] for r in recs]
    assert per_shard == sorted(per_shard) and per_shard[-1] > per_shard[0]
    assert any(r["rebuilt"] for r in recs[1:])
    seen = 0
    for counts, rec in zip(res, recs):
        seen += counts["scheduled"]
        assert rec["keys"] == seen
        assert seen <= rec["per_shard"] * rec["n_shards"]
        design = filter_health(
            tier, rec["per_shard"], rec["n_shards"],
            rec["per_shard"] * rec["n_shards"],
        )
        if tier == "bloom":
            assert rec["est_fpr"] <= design["est_fpr"]
        else:
            assert rec["load"] <= design["load"]
