"""End-to-end round-loop tests: the reference's E2E crawl suite re-shaped
(tests/test_crawl_local.py: idempotence `_lens[0]==_lens[-1]`, golden
read-back) plus the north-rule invariants: no URL scheduled twice,
byte-identical text, crash-resume equivalence, parallelism-independent
crawl ordering."""

from __future__ import annotations

import os

import pyspark.sql.functions as F
import pytest

from metadata_crawler_spark.plans import round_loop
from metadata_crawler_spark.plans.round_loop import CrawlConfig, Crawler

CFG = CrawlConfig(n_shards=8, bloom_expected_per_shard=4096, salt_parts=4)


def _mk(spark, fixture_dir, tables, ckpt) -> Crawler:
    return Crawler(
        spark=spark,
        pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"],
        hosts=tables["hosts"],
        checkpoint_dir=ckpt,
        config=CFG,
    )


@pytest.fixture(scope="module")
def crawl(spark, fixture_dir, tables, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt_main"))
    crawler = _mk(spark, fixture_dir, tables, ckpt)
    seeds = tables["seeds"]
    results = crawler.run(seeds, rounds=3)
    return crawler, ckpt, results


def test_rounds_progress(crawl):
    _, _, results = crawl
    assert len(results) == 3
    assert results[0]["scheduled"] > 0
    assert results[1]["scheduled"] > 0  # outlinks expanded the frontier
    for r in results:
        assert r["fetched"] <= r["scheduled"]
        assert r["deduped"] >= r["scheduled"]


def test_no_url_scheduled_twice(crawl, spark):
    _, ckpt, _ = crawl
    sched = spark.read.parquet(*[
        os.path.join(ckpt, f"round={r:05d}", "scheduled") for r in range(3)
    ])
    total = sched.count()
    distinct = sched.select("url_hash_hi", "url_hash_lo").distinct().count()
    assert total == distinct


def test_budget_and_politeness_every_round(crawl, spark, tables):
    _, ckpt, _ = crawl
    for r in range(3):
        sched = spark.read.parquet(os.path.join(ckpt, f"round={r:05d}", "scheduled"))
        per_host = sched.groupBy("host").count()
        joined = per_host.join(tables["hosts"], "host", "left").withColumn(
            "budget", F.coalesce("budget", F.lit(CFG.default_budget))
        )
        assert joined.filter(F.col("count") > F.col("budget")).count() == 0
        bad = sched.filter(
            F.col("fetch_offset_ms") != (F.col("rank") - 1) * F.col("crawl_delay_ms")
        ).count()
        assert bad == 0


def test_fetched_text_byte_identical(crawl, spark, fixture_dir):
    """North rule: extracted text per url == the oracle text column."""
    crawler, ckpt, _ = crawl
    fetched = spark.read.parquet(*[
        os.path.join(ckpt, f"round={r:05d}", "fetched") for r in range(3)
    ]).filter(F.col("fetched"))
    pages = crawler.pages_snapshot().withColumn(
        "oracle_text",
        F.col("html").cast("string"),
    )
    # recompute oracle from the raw table instead: join on canonical url
    from metadata_crawler_spark.functions.text import extract_text_udf

    oracle = crawler.pages_snapshot().select(
        F.col("page_url"), extract_text_udf("html").alias("oracle_text")
    )
    j = fetched.join(oracle, fetched["url"] == oracle["page_url"], "inner")
    assert j.count() == fetched.count()
    assert j.filter(F.col("text") != F.col("oracle_text")).count() == 0
    del pages


def test_resume_equals_straight_run(spark, fixture_dir, tables, tmp_path_factory):
    """Kill-after-round-k resume: 2 rounds + fresh crawler to 4 == straight 4
    (SURVEY §5 resumability invariant)."""
    ck_a = str(tmp_path_factory.mktemp("ckpt_a"))
    ck_b = str(tmp_path_factory.mktemp("ckpt_b"))
    seeds = tables["seeds"]
    a = _mk(spark, fixture_dir, tables, ck_a)
    res_a = a.run(seeds, rounds=4)
    b1 = _mk(spark, fixture_dir, tables, ck_b)
    b1.run(seeds, rounds=2)
    b2 = _mk(spark, fixture_dir, tables, ck_b)  # fresh instance = restart
    res_b = b2.run(seeds, rounds=4)
    assert [r["round"] for r in res_b] == [2, 3]
    seen_a = spark.read.parquet(*[
        os.path.join(ck_a, f"round={r:05d}", "scheduled") for r in range(4)
    ]).select("url")
    seen_b = spark.read.parquet(*[
        os.path.join(ck_b, f"round={r:05d}", "scheduled") for r in range(4)
    ]).select("url")
    assert seen_a.exceptAll(seen_b).count() == 0
    assert seen_b.exceptAll(seen_a).count() == 0
    assert [r["scheduled"] for r in res_a[2:]] == [r["scheduled"] for r in res_b]


def test_order_independent_of_parallelism(
    spark, fixture_dir, tables, tmp_path_factory, monkeypatch
):
    """Crawl order is a function of the data, not the partitioning: same
    crawl at shuffle.partitions=3 vs 8 yields identical scheduled sets."""
    seeds = tables["seeds"]
    outs = []
    for parts in (3, 8):
        # pin the round width so the two runs really do shuffle at
        # different widths
        monkeypatch.setattr(
            round_loop, "_round_width", lambda n, cores, p=parts: p
        )
        ck = str(tmp_path_factory.mktemp(f"ckpt_p{parts}"))
        results = _mk(spark, fixture_dir, tables, ck).run(seeds, rounds=2)
        assert [r["shuffle_partitions"] for r in results] == [parts, parts]
        outs.append(
            spark.read.parquet(*[
                os.path.join(ck, f"round={r:05d}", "scheduled") for r in range(2)
            ]).select("url", "rank")
        )
    assert outs[0].exceptAll(outs[1]).count() == 0
    assert outs[1].exceptAll(outs[0]).count() == 0


def test_replay_idempotent(spark, fixture_dir, tables, tmp_path_factory):
    """Crash between data write and manifest flip: re-running the round
    overwrites the same paths and converges to the same state."""
    import json

    ck = str(tmp_path_factory.mktemp("ckpt_replay"))
    seeds = tables["seeds"]
    _mk(spark, fixture_dir, tables, ck).run(seeds, rounds=2)
    before = spark.read.parquet(
        os.path.join(ck, "round=00001", "scheduled")
    ).select("url", "rank").toPandas().sort_values("url").reset_index(drop=True)
    # simulate torn commit: manifest says round 0, round 1 data present
    mpath = os.path.join(ck, "manifest.json")
    state = json.load(open(mpath))
    state["last_round"] = 0
    json.dump(state, open(mpath, "w"))
    _mk(spark, fixture_dir, tables, ck).run(seeds, rounds=2)
    after = spark.read.parquet(
        os.path.join(ck, "round=00001", "scheduled")
    ).select("url", "rank").toPandas().sort_values("url").reset_index(drop=True)
    assert before.equals(after)


def test_metrics_lineage_written(crawl, spark):
    _, ckpt, results = crawl
    m = spark.read.parquet(*[
        os.path.join(ckpt, f"round={r:05d}", "metrics") for r in range(3)
    ])
    assert set(m.columns) == {
        "partition_id", "scheduled_n", "fetched_n", "politeness_wall_ms", "round"
    }
    per_round = {r["round"]: r["scheduled_n"] for r in
                 m.groupBy("round").agg(F.sum("scheduled_n").alias("scheduled_n")).collect()}
    for res in results:
        assert per_round[res["round"]] == res["scheduled"]


def test_max_urls_valve_and_fail_under(spark, fixture_dir, tables, tmp_path_factory):
    from metadata_crawler_spark.plans.round_loop import CrawlConfig, Crawler, EmptyCrawl

    ck = str(tmp_path_factory.mktemp("ckpt_valve"))
    cfg = CrawlConfig(
        n_shards=8, bloom_expected_per_shard=4096, salt_parts=4,
        max_urls_per_round=5, fail_under=10_000,
    )
    c = Crawler(
        spark=spark,
        pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"],
        hosts=tables["hosts"],
        checkpoint_dir=ck,
        config=cfg,
    )
    import pytest as _pytest

    with _pytest.raises(EmptyCrawl):
        c.run(tables["seeds"], rounds=2)
    for r in range(2):
        n = spark.read.parquet(os.path.join(ck, f"round={r:05d}", "scheduled")).count()
        assert n <= 5


def test_guarded_sweep(spark):
    from metadata_crawler_spark.operators.versioning import SweepRefused, guarded_sweep
    import pytest as _pytest

    df = spark.createDataFrame([(i, i) for i in range(100)], "id long, epoch long")
    with _pytest.raises(SweepRefused):
        guarded_sweep(df, "epoch", 90)  # would delete 90%
    kept = guarded_sweep(df, "epoch", 90, force=True)
    assert kept.count() == 10
    assert guarded_sweep(df, "epoch", 10).count() == 90  # 10% -> no guard


def test_size_based_switches(spark, tmp_path):
    """The scale switches decide from size, not constants: bloom broadcast
    flips to the cogrouped probe when the filter's total bytes outgrow the
    budget (pure config arithmetic — no job), and the robots join switch
    probes the rules table with a bounded limit-count."""
    from metadata_crawler_spark.plans.round_loop import (
        BLOOM_BROADCAST_MAX_BYTES,
        CrawlConfig,
        Crawler,
    )

    robots = spark.createDataFrame(
        [("a.com", ["/x"], 0)],
        "host string, disallow array<string>, crawl_delay_ms long",
    )
    hosts = spark.createDataFrame([("a.com", 8)], "host string, budget int")

    def mk(cfg):
        return Crawler(
            spark=spark, pages_path="unused", robots=robots, hosts=hosts,
            checkpoint_dir=str(tmp_path / "ck"), config=cfg,
        )

    small = mk(CrawlConfig(n_shards=32, bloom_expected_per_shard=50_000))
    assert small.bloom_broadcast() is True
    # ~10^10 keys over 32 shards: bitmaps alone are gigabytes -> cogrouped
    big = mk(CrawlConfig(n_shards=32, bloom_expected_per_shard=300_000_000))
    assert big.bloom_broadcast() is False
    # sanity on the threshold arithmetic itself
    from metadata_crawler_spark.operators.seen import bloom_params

    m, _ = bloom_params(300_000_000, 0.01)
    assert (m // 8) * 32 > BLOOM_BROADCAST_MAX_BYTES
    # robots switch: tiny table -> broadcast
    assert small.robots_broadcast() is True


def test_fetch_join_broadcast_gate(spark, fixture_dir, tables, tmp_path_factory):
    """The scheduled set only broadcasts into the fetch join while it is
    provably small (the observed count gates it); a tiny forced threshold
    must still produce identical round results via the shuffle join."""
    from metadata_crawler_spark.plans.round_loop import CrawlConfig, Crawler

    def run(cfg, ck):
        c = Crawler(
            spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
            robots=tables["robots"], hosts=tables["hosts"],
            checkpoint_dir=ck, config=cfg,
        )
        return c.run(tables["seeds"], rounds=2)

    ck_a = str(tmp_path_factory.mktemp("ck_bcast"))
    ck_b = str(tmp_path_factory.mktemp("ck_shuffle"))
    a = run(CrawlConfig(), ck_a)
    b = run(CrawlConfig(scheduled_broadcast_max_rows=0), ck_b)
    assert [(r["scheduled"], r["fetched"], r["frontier_next"]) for r in a] == [
        (r["scheduled"], r["fetched"], r["frontier_next"]) for r in b
    ]
    sa = spark.read.parquet(os.path.join(ck_a, "round=00001", "fetched"))
    sb = spark.read.parquet(os.path.join(ck_b, "round=00001", "fetched"))
    assert sa.exceptAll(sb).count() == 0 and sb.exceptAll(sa).count() == 0


def test_resume_at_exact_commit_boundary(spark, fixture_dir, tables, tmp_path_factory):
    """Crash AFTER all of round 1's tables are written but BEFORE the
    manifest flip (the single commit point, sources/tables.ManifestLog):
    the uncommitted round must be invisible, resume must replay it
    idempotently, and the final state must equal an uninterrupted run
    (SURVEY §7 hard part d; reference two-crawl equality,
    tests/test_crawl_local.py)."""
    import json

    from metadata_crawler_spark.sources.tables import ManifestLog

    ck_a = str(tmp_path_factory.mktemp("ckpt_boundary_a"))
    ck_b = str(tmp_path_factory.mktemp("ckpt_boundary_b"))
    seeds = tables["seeds"]
    res_a = _mk(spark, fixture_dir, tables, ck_a).run(seeds, rounds=2)

    crashing = _mk(spark, fixture_dir, tables, ck_b)

    class _CrashAtFlip(RuntimeError):
        pass

    real_commit = ManifestLog.commit

    def commit_round0_then_crash(self, state):
        if state.get("last_round", 0) >= 1:
            raise _CrashAtFlip()  # all round-1 tables are on disk already
        real_commit(self, state)

    ManifestLog.commit = commit_round0_then_crash
    try:
        with pytest.raises(_CrashAtFlip):
            crashing.run(seeds, rounds=2)
    finally:
        ManifestLog.commit = real_commit
    # the torn round never happened: manifest still points at round 0,
    # though round-1 data files exist on disk
    state = json.load(open(os.path.join(ck_b, "manifest.json")))
    assert state["last_round"] == 0
    assert os.path.exists(os.path.join(ck_b, "round=00001", "scheduled"))

    res_resumed = _mk(spark, fixture_dir, tables, ck_b).run(seeds, rounds=2)
    assert [r["round"] for r in res_resumed] == [1]
    for tbl in ("scheduled", "fetched"):
        for rnd in (0, 1):
            pa = spark.read.parquet(os.path.join(ck_a, f"round={rnd:05d}", tbl))
            pb = spark.read.parquet(os.path.join(ck_b, f"round={rnd:05d}", tbl))
            assert pa.exceptAll(pb).count() == 0 and pb.exceptAll(pa).count() == 0
    sa = json.load(open(os.path.join(ck_a, "manifest.json")))
    sb = json.load(open(os.path.join(ck_b, "manifest.json")))
    for k in ("r0", "r1"):
        for field in ("frontier_in", "scheduled", "fetched", "frontier_next"):
            assert sa[k][field] == sb[k][field], (k, field)
    assert [r["scheduled"] for r in res_a[1:]] == [r["scheduled"] for r in res_resumed]


def test_shuffle_width_adapts_per_round(spark, fixture_dir, tables, tmp_path_factory):
    """Small rounds must not fan into near-empty session-width partitions;
    rounds big enough to split keep up to the core count, large rounds
    get ~ROWS_PER_SHUFFLE_PARTITION rows per partition up to the cap; the
    session conf is restored after run()."""
    from metadata_crawler_spark.plans.round_loop import (
        MAX_SHUFFLE_PARTITIONS,
        _round_width,
    )

    ck = str(tmp_path_factory.mktemp("ckpt_width"))
    c = _mk(spark, fixture_dir, tables, ck)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    results = c.run(tables["seeds"], rounds=2)
    # the fixture seed rounds are under 256 rows -> one shuffle partition
    assert all(r["shuffle_partitions"] == 1 for r in results)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    # a tiny round's output is not sprayed across the session width
    parts = [
        f for f in os.listdir(os.path.join(ck, "round=00000", "scheduled"))
        if f.startswith("part-")
    ]
    assert len(parts) <= 4, parts
    # the rule itself, on a 32-core session
    cores = 32
    assert _round_width(0, cores) == 1
    assert _round_width(255, cores) == 1
    # dead zone: enough rows to split -> ~128 rows/partition, <= cores
    assert _round_width(256, cores) == 2
    assert _round_width(1000, cores) == 8
    assert _round_width(128 * cores - 1, cores) == cores
    assert _round_width(128 * cores, cores) == cores
    # 50k rows/partition once that exceeds the core count, then the cap
    assert _round_width(10**7, cores) == 200
    assert _round_width(10**12, cores) == MAX_SHUFFLE_PARTITIONS == 32_768


def test_bucketed_pages_fetch_join(spark, fixture_dir, tables, tmp_path_factory):
    """CrawlConfig.bucketed_pages_table: the over-broadcast fallback joins
    against the bucketed pages table with NO Exchange on the pages side
    (VERDICT r2 item 6), and the crawl result is identical to the
    parquet-snapshot path."""
    from metadata_crawler_spark.plans.round_loop import ingest_bucketed_pages

    ck_b = str(tmp_path_factory.mktemp("ckpt_bucketed"))
    ck_p = str(tmp_path_factory.mktemp("ckpt_plain"))
    seeds = tables["seeds"]
    ingest_bucketed_pages(
        spark, os.path.join(fixture_dir, "pages.parquet"),
        "pages_bucketed_rl", n_buckets=8,
    )
    try:
        cfg = CrawlConfig(
            n_shards=8, bloom_expected_per_shard=4096, salt_parts=4,
            bucketed_pages_table="pages_bucketed_rl",
            scheduled_broadcast_max_rows=0,  # force the fallback join
        )
        cb = Crawler(
            spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
            robots=tables["robots"], hosts=tables["hosts"],
            checkpoint_dir=ck_b, config=cfg,
        )
        res_b = cb.run(seeds, rounds=2)
        res_p = _mk(spark, fixture_dir, tables, ck_p).run(seeds, rounds=2)
        for rb, rp in zip(res_b, res_p):
            for field in ("frontier_in", "scheduled", "fetched", "frontier_next"):
                assert rb[field] == rp[field], field
        fb = spark.read.parquet(os.path.join(ck_b, "round=00000", "fetched"))
        fp = spark.read.parquet(os.path.join(ck_p, "round=00000", "fetched"))
        cols = ["url", "fetched", "text", "rank"]
        assert fb.select(cols).exceptAll(fp.select(cols)).count() == 0
        assert fp.select(cols).exceptAll(fb.select(cols)).count() == 0

        # plan shape: bucketed pages side reads WITHOUT an Exchange
        sched = spark.read.parquet(os.path.join(ck_b, "round=00000", "scheduled"))
        pages = cb.pages_snapshot()
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            j = pages.join(sched, pages["page_url"] == sched["url"], "inner")
            plan = j._jdf.queryExecution().executedPlan().toString()
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024)
            )
        assert plan.count("Exchange hashpartitioning") == 1, plan[:2000]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        spark.sql("DROP TABLE IF EXISTS pages_bucketed_rl")


def test_seen_compaction_path_bound(spark, fixture_dir, tables, tmp_path_factory):
    """VERDICT r3 item 4: after thousands of tiny rounds the seen read
    must touch O(seen_compact_every) paths, not one per round, and the
    compacted snapshot must equal the full union of all deltas."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ckpt = str(tmp_path_factory.mktemp("ckpt_compact"))
    cfg = CrawlConfig(
        n_shards=8, bloom_expected_per_shard=4096, salt_parts=4,
        seen_compact_every=256,
    )
    crawler = Crawler(
        spark=spark,
        pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"],
        hosts=tables["hosts"],
        checkpoint_dir=ckpt,
        config=cfg,
    )
    n_rounds = 2100  # > 2k tiny rounds; deltas written directly (pyarrow)
    expected = set()
    state: dict = {}
    for r in range(n_rounds):
        d = os.path.join(ckpt, f"round={r:05d}", "scheduled")
        os.makedirs(d, exist_ok=True)
        rows = [(r * 10 + i, r) for i in range(2)]
        expected.update(rows)
        pq.write_table(
            pa.table(
                {
                    "url_hash_hi": [a for a, _ in rows],
                    "url_hash_lo": [b for _, b in rows],
                    "url": [f"https://x.com/{a}" for a, _ in rows],
                }
            ),
            os.path.join(d, "part-0.parquet"),
        )
        state.pop("committed_at", None)
        state["last_round"] = r
        state = crawler._maybe_compact_seen(r, state)
        crawler.log.commit(state)

    assert state.get("seen_compacted_upto", -1) >= n_rounds - 256
    paths = crawler.seen_input_paths(n_rounds - 1)
    assert len(paths) <= 256 + 1, f"{len(paths)} paths"  # O(k), not O(rounds)
    got = {
        (row["url_hash_hi"], row["url_hash_lo"])
        for row in crawler._read_seen(n_rounds - 1).distinct().collect()
    }
    assert got == expected


def test_resume_after_compaction_equals_straight_run(
    spark, fixture_dir, tables, tmp_path_factory
):
    """Crash-restart AFTER a compaction committed must resume from the
    consolidated seen + tail deltas and produce the same crawl as an
    uninterrupted run."""
    cfg = CrawlConfig(
        n_shards=8, bloom_expected_per_shard=4096, salt_parts=4,
        seen_compact_every=2,
    )

    def mk(ckpt):
        return Crawler(
            spark=spark,
            pages_path=os.path.join(fixture_dir, "pages.parquet"),
            robots=tables["robots"],
            hosts=tables["hosts"],
            checkpoint_dir=ckpt,
            config=cfg,
        )

    ck_a = str(tmp_path_factory.mktemp("ckpt_ca"))
    ck_b = str(tmp_path_factory.mktemp("ckpt_cb"))
    seeds = tables["seeds"]
    a = mk(ck_a)
    res_a = a.run(seeds, rounds=4)
    b1 = mk(ck_b)
    b1.run(seeds, rounds=3)
    assert (b1.log.read() or {}).get("seen_compacted_upto", -1) >= 0
    b2 = mk(ck_b)  # fresh instance = restart, after compaction committed
    res_b = b2.run(seeds, rounds=4)
    assert [r["round"] for r in res_b] == [3]
    sched_a = spark.read.parquet(*[
        os.path.join(ck_a, f"round={r:05d}", "scheduled") for r in range(4)
    ]).select("url")
    sched_b = spark.read.parquet(*[
        os.path.join(ck_b, f"round={r:05d}", "scheduled") for r in range(4)
    ]).select("url")
    assert sched_a.exceptAll(sched_b).count() == 0
    assert sched_b.exceptAll(sched_a).count() == 0
    assert [r["scheduled"] for r in res_a[3:]] == [r["scheduled"] for r in res_b]


def test_pagerank_rescore_round(spark, fixture_dir, tables, tmp_path_factory):
    """VERDICT r4 item 8 wiring: with pagerank_every=1 each round's next
    frontier carries PageRank-over-accumulated-links scores instead of
    OPIC cash. The crawl still progresses, scores are valid positive
    probabilities-ish (<=1), and at least one frontier url scores above
    the non-starving floor (i.e. the graph actually contributed)."""
    ckpt = str(tmp_path_factory.mktemp("ckpt_pr"))
    cfg = CrawlConfig(
        n_shards=8, bloom_expected_per_shard=4096, salt_parts=4,
        pagerank_every=1, pagerank_iterations=2,
    )
    c = Crawler(
        spark=spark,
        pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"],
        hosts=tables["hosts"],
        checkpoint_dir=ckpt,
        config=cfg,
    )
    results = c.run(tables["seeds"], rounds=2)
    assert all(r["fetched"] >= 0 for r in results)
    assert sum(r["scheduled"] for r in results) > 0
    nxt = spark.read.parquet(
        os.path.join(ckpt, "round=00001", "frontier_next")
    )
    scores = [r["score"] for r in nxt.select("score").collect()]
    assert scores and all(0.0 < s <= 1.0 for s in scores)
    assert len(set(scores)) > 1  # authority differentiates urls


def test_cuckoo_seen_filter_crawl_equivalence(
    spark, fixture_dir, tables, tmp_path_factory
):
    """seen_filter='cuckoo' runs the SAME crawl as the bloom tier: both
    are no-false-negative pre-filters in front of the exact anti-join, so
    the per-round scheduled sets must be identical — plus the cuckoo-only
    invariants: resume works (filter parquet round-trips) and no URL is
    scheduled twice."""
    seeds = tables["seeds"]
    ck_b = str(tmp_path_factory.mktemp("ckpt_bloomref"))
    ck_c = str(tmp_path_factory.mktemp("ckpt_cuckoo"))
    bloom_run = Crawler(
        spark=spark,
        pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ck_b, config=CFG,
    ).run(seeds, rounds=3)
    cfg_c = CrawlConfig(
        n_shards=8, bloom_expected_per_shard=4096, salt_parts=4,
        seen_filter="cuckoo",
    )
    c1 = Crawler(
        spark=spark,
        pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ck_c, config=cfg_c,
    )
    c1.run(seeds, rounds=2)
    # fresh instance = restart mid-crawl: the cuckoo tables reload from
    # the checkpoint parquet like the bloom tier does
    c2 = Crawler(
        spark=spark,
        pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ck_c, config=cfg_c,
    )
    cuckoo_run = c2.run(seeds, rounds=3)
    assert [r["round"] for r in cuckoo_run] == [2]
    for r in range(3):
        a = spark.read.parquet(
            os.path.join(ck_b, f"round={r:05d}", "scheduled")
        ).select("url")
        b = spark.read.parquet(
            os.path.join(ck_c, f"round={r:05d}", "scheduled")
        ).select("url")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, r
    sched = spark.read.parquet(*[
        os.path.join(ck_c, f"round={r:05d}", "scheduled") for r in range(3)
    ])
    assert sched.count() == sched.select("url_hash_hi", "url_hash_lo").distinct().count()
    assert [x["scheduled"] for x in cuckoo_run] == [
        x["scheduled"] for x in bloom_run[2:]
    ]


def test_adapt_budgets_crawl_and_resume(spark, fixture_dir, tables, tmp_path_factory):
    """adapt_budgets=True: the crawl runs green, the evolved hosts table
    checkpoints per round, budgets move off the static values where fetch
    outcomes say so, and kill-after-round-1 resume equals a straight run
    (the evolved table reloads from parquet, not driver state)."""
    seeds = tables["seeds"]
    cfg = CrawlConfig(
        n_shards=8, bloom_expected_per_shard=4096, salt_parts=4,
        adapt_budgets=True,
    )

    def mk(ck):
        return Crawler(
            spark=spark,
            pages_path=os.path.join(fixture_dir, "pages.parquet"),
            robots=tables["robots"], hosts=tables["hosts"],
            checkpoint_dir=ck, config=cfg,
        )

    ck_a = str(tmp_path_factory.mktemp("ckpt_aimd_a"))
    res_a = mk(ck_a).run(seeds, rounds=3)
    assert len(res_a) == 3 and res_a[0]["scheduled"] > 0
    # evolved hosts table exists per round and is a valid budget table
    for r in range(3):
        hp = os.path.join(ck_a, f"round={r:05d}", "hosts")
        assert os.path.exists(hp), r
    evolved = spark.read.parquet(os.path.join(ck_a, "round=00002", "hosts"))
    assert {"host", "budget"} <= set(evolved.columns)
    static = {r.host: r.budget for r in tables["hosts"].collect()}
    moved = {
        r.host: r.budget
        for r in evolved.collect()
        if r.host in static and r.budget != static[r.host]
    }
    assert moved, "three healthy rounds must move at least one budget"
    # resume: 1 round, then a fresh crawler to 3 == straight 3
    ck_b = str(tmp_path_factory.mktemp("ckpt_aimd_b"))
    mk(ck_b).run(seeds, rounds=1)
    res_b = mk(ck_b).run(seeds, rounds=3)
    assert [r["scheduled"] for r in res_a[1:]] == [r["scheduled"] for r in res_b]
    for r in range(3):
        a = spark.read.parquet(os.path.join(ck_a, f"round={r:05d}", "scheduled")).select("url")
        b = spark.read.parquet(os.path.join(ck_b, f"round={r:05d}", "scheduled")).select("url")
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0, r


def test_host_sketch_cardinalities(spark, fixture_dir, tables, tmp_path_factory):
    """Config-gated per-round HLL host sketches: committed beside each
    round; merged estimates track the exact per-host distinct scheduled
    counts within the lgk error band, without re-reading history."""
    ckpt = str(tmp_path_factory.mktemp("ckpt_sketch"))
    cfg = CrawlConfig(
        n_shards=8, bloom_expected_per_shard=4096, salt_parts=4,
        host_sketch=True,
    )
    c = Crawler(
        spark=spark,
        pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"],
        hosts=tables["hosts"],
        checkpoint_dir=ckpt,
        config=cfg,
    )
    c.run(tables["seeds"], rounds=3)
    for r in range(3):
        assert os.path.exists(
            os.path.join(ckpt, f"round={r:05d}", "host_sketch")
        )
    est = {r.host: r.n_distinct for r in c.host_cardinalities(2).collect()}
    sched = spark.read.parquet(*[
        os.path.join(ckpt, f"round={r:05d}", "scheduled") for r in range(3)
    ])
    exact = {
        r.host: r.n
        for r in sched.groupBy("host")
        .agg(F.countDistinct("url").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for h, n in exact.items():
        assert abs(est[h] - n) <= max(2, 0.05 * n)


def test_host_sketch_off_raises(spark, fixture_dir, tables, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt_nosketch"))
    c = _mk(spark, fixture_dir, tables, ckpt)
    c.run(tables["seeds"], rounds=1)
    with pytest.raises(ValueError, match="host_sketch"):
        c.host_cardinalities(0)


def test_blocklist_sweep_round(spark, fixture_dir, tables, tmp_path_factory):
    """blocklist_every wiring: the sweep commits a per-round `blocklist`
    table and junk-dominated hosts leave the next frontier. With an
    impossible flag threshold (>1.0 can never be exceeded) the sweep is
    a no-op on the frontier but the (empty) table still commits; with
    min_docs=1 and threshold 0 every fetched host with a flagged doc is
    a candidate, and none of its urls survive into frontier_next."""
    from metadata_crawler_spark.functions.urls import host_expr

    ckpt = str(tmp_path_factory.mktemp("ckpt_bl_off"))
    cfg = CrawlConfig(
        n_shards=8, bloom_expected_per_shard=4096, salt_parts=4,
        blocklist_every=1, blocklist_max_flag_frac=1.5,
    )
    c = Crawler(
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ckpt, config=cfg,
    )
    res = c.run(tables["seeds"], rounds=2)
    assert sum(r["scheduled"] for r in res) > 0
    bl = spark.read.parquet(os.path.join(ckpt, "round=00000", "blocklist"))
    assert bl.columns == ["domain", "n_docs", "flag_frac"]
    assert bl.count() == 0  # impossible threshold -> no candidates

    ckpt2 = str(tmp_path_factory.mktemp("ckpt_bl_on"))
    cfg2 = CrawlConfig(
        n_shards=8, bloom_expected_per_shard=4096, salt_parts=4,
        blocklist_every=1, blocklist_min_docs=1,
        blocklist_max_flag_frac=0.0,
    )
    c2 = Crawler(
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ckpt2, config=cfg2,
    )
    c2.run(tables["seeds"], rounds=1)
    mined = spark.read.parquet(
        os.path.join(ckpt2, "round=00000", "blocklist")
    )
    blocked = {r.domain for r in mined.collect()}
    if blocked:  # fixture text flags somewhere (Gopher min_words etc.)
        nxt = spark.read.parquet(
            os.path.join(ckpt2, "round=00000", "frontier_next")
        ).select(host_expr(F.col("url")).alias("h")).distinct()
        hosts_next = {r.h for r in nxt.collect()}
        assert not (blocked & hosts_next)


def test_blocklist_partials_resume_equals_straight_run(
    spark, fixture_dir, tables, tmp_path_factory
):
    """The incremental host_quality partials are a pure function of the
    round number (each sweep covers exactly its own span), so a
    kill-after-round-1 resume rebuilds identical partials and blocklist
    totals to a straight run — the additive-counts contract."""
    cfg = lambda: CrawlConfig(
        n_shards=8, bloom_expected_per_shard=4096, salt_parts=4,
        blocklist_every=1, blocklist_min_docs=1,
        blocklist_max_flag_frac=0.0,
    )
    seeds = tables["seeds"]
    ck_a = str(tmp_path_factory.mktemp("ckpt_bl_a"))
    a = Crawler(
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ck_a, config=cfg(),
    )
    a.run(seeds, rounds=3)
    ck_b = str(tmp_path_factory.mktemp("ckpt_bl_b"))
    b1 = Crawler(
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ck_b, config=cfg(),
    )
    b1.run(seeds, rounds=1)
    b2 = Crawler(  # fresh instance = restart
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ck_b, config=cfg(),
    )
    b2.run(seeds, rounds=3)
    for r in range(3):
        for name in ("host_quality", "blocklist"):
            pa = os.path.join(ck_a, f"round={r:05d}", name)
            pb = os.path.join(ck_b, f"round={r:05d}", name)
            ta = spark.read.parquet(pa)
            tb = spark.read.parquet(pb)
            assert ta.exceptAll(tb).count() == 0, (r, name)
            assert tb.exceptAll(ta).count() == 0, (r, name)


def test_blocklist_standing_gate_between_sweeps(
    spark, fixture_dir, tables, tmp_path_factory
):
    """Non-sweep rounds apply the LATEST committed blocklist as a
    standing gate: with blocklist_every=2, round 0 mines+commits and
    round 1 is not a sweep — but round 1's frontier_next must still
    exclude the round-0 blocked hosts, or their outlinked children
    re-enter and get fetched until the next sweep."""
    from metadata_crawler_spark.functions.urls import host_expr

    ckpt = str(tmp_path_factory.mktemp("ckpt_bl_gate"))
    cfg = CrawlConfig(
        n_shards=8, bloom_expected_per_shard=4096, salt_parts=4,
        blocklist_every=2, blocklist_min_docs=1,
        blocklist_max_flag_frac=0.0,
    )
    c = Crawler(
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ckpt, config=cfg,
    )
    c.run(tables["seeds"], rounds=2)
    blocked = {
        r.domain
        for r in spark.read.parquet(
            os.path.join(ckpt, "round=00000", "blocklist")
        ).collect()
    }
    assert blocked  # threshold 0 flags every host with one flagged doc
    for rnd in (0, 1):  # sweep round AND the standing-gate round
        nxt = (
            spark.read.parquet(
                os.path.join(ckpt, f"round={rnd:05d}", "frontier_next")
            )
            .select(host_expr(F.col("url")).alias("h"))
            .distinct()
        )
        assert not (blocked & {r.h for r in nxt.collect()}), f"round {rnd}"


def test_resume_refuses_foreign_hash_version(crawl, spark, fixture_dir, tables, tmp_path_factory):
    """ADVICE r5: a checkpoint stamped with a DIFFERENT url-hash formula
    must refuse to resume — its stored (hi, lo) pairs would miss every
    probe and silently re-crawl the world. Current-version and unstamped
    (formula-current, pre-stamp) checkpoints resume fine."""
    import json
    import shutil

    from metadata_crawler_spark.functions.urls import URL_HASH_VERSION

    _, ckpt, results = crawl
    # committed state carries the stamp
    with open(os.path.join(ckpt, "manifest.json")) as fh:
        state = json.load(fh)
    assert state["url_hash_version"] == URL_HASH_VERSION

    ckpt2 = str(tmp_path_factory.mktemp("ckpt_hashver"))
    shutil.copytree(ckpt, ckpt2, dirs_exist_ok=True)
    state["url_hash_version"] = URL_HASH_VERSION - 1
    with open(os.path.join(ckpt2, "manifest.json"), "w") as fh:
        json.dump(state, fh)
    stale = _mk(spark, fixture_dir, tables, ckpt2)
    with pytest.raises(ValueError, match="url-hash formula"):
        stale.run(tables["seeds"], rounds=4)
