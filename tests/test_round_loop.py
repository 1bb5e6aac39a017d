"""End-to-end round-loop tests: the reference's E2E crawl suite re-shaped
(tests/test_crawl_local.py: idempotence `_lens[0]==_lens[-1]`, golden
read-back) plus the north-rule invariants: no URL scheduled twice,
byte-identical text, crash-resume equivalence, parallelism-independent
crawl ordering."""

from __future__ import annotations

import os
from functools import partial

import pyspark.sql.functions as F
import pytest
from pyspark.sql.types import StructType

from metadata_crawler_spark.functions.urls import blocked_hosts_from_counts
from metadata_crawler_spark.operators.frontier import rescore_frontier
from metadata_crawler_spark.operators.traps import trap_hosts_from_partials
from metadata_crawler_spark.plans import round_loop
from metadata_crawler_spark.plans.round_loop import CrawlConfig, Crawler

CFG = CrawlConfig(n_shards=8)


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


def test_resume_equals_straight_run(
    spark, fixture_dir, tables, tmp_path_factory, monkeypatch
):
    """Kill-after-round-k resume: 2 rounds + fresh crawler to 4 == straight 4
    (SURVEY §5 resumability invariant). Each round after round 0 loads
    its committed inputs once, and nothing is loaded after the last
    commit."""
    loads: list[int] = []
    real_load = Crawler._load_state

    def counting_load(self, upto, *args):
        loads.append(upto)
        return real_load(self, upto, *args)

    monkeypatch.setattr(Crawler, "_load_state", counting_load)
    ck_a = str(tmp_path_factory.mktemp("ckpt_a"))
    ck_b = str(tmp_path_factory.mktemp("ckpt_b"))
    seeds = tables["seeds"]
    a = _mk(spark, fixture_dir, tables, ck_a)
    res_a = a.run(seeds, rounds=4)
    assert loads == [0, 1, 2]
    loads.clear()
    b1 = _mk(spark, fixture_dir, tables, ck_b)
    b1.run(seeds, rounds=2)
    assert loads == [0]
    loads.clear()
    b2 = _mk(spark, fixture_dir, tables, ck_b)  # fresh instance = restart
    res_b = b2.run(seeds, rounds=4)
    assert loads == [1, 2]
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


@pytest.mark.parametrize("table,rnd", [("frontier_next", 2), ("scheduled", 1)])
def test_resume_fails_on_missing_committed_table(
    crawl, spark, fixture_dir, tables, tmp_path_factory, table, rnd
):
    """A committed round's tables are named by the manifest, not probed:
    resuming a checkpoint that lost one must fail at the read. Without
    its frontier_next a resume used to stop as if the frontier were
    exhausted; without a scheduled delta it re-scheduled urls of that
    round."""
    import json
    import shutil

    from pyspark.errors import AnalysisException

    _, ckpt, _ = crawl
    ck = str(tmp_path_factory.mktemp(f"ckpt_missing_{table}"))
    shutil.copytree(ckpt, ck, dirs_exist_ok=True)
    with open(os.path.join(ck, "manifest.json")) as fh:
        state = json.load(fh)
    assert state["last_round"] == 2
    assert state["r2"]["frontier_next"] > 0  # not an exhausted frontier
    shutil.rmtree(os.path.join(ck, f"round={rnd:05d}", table))
    with pytest.raises(AnalysisException, match=f"round={rnd:05d}/{table}"):
        _mk(spark, fixture_dir, tables, ck).run(tables["seeds"], rounds=4)
    with open(os.path.join(ck, "manifest.json")) as fh:
        assert json.load(fh)["last_round"] == 2


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
        n_shards=8,
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


def test_size_based_switches(spark, tables, tmp_path):
    """The scale switches decide from size, not constants: the seen-filter
    probe flips to the cogrouped path when the filter's total bytes (from
    its recorded geometry — no job) outgrow the budget, and the robots
    and hosts join switches decide from the optimizer's row estimate
    (no job for a table scan; a frame without one takes a bounded
    probe)."""
    from metadata_crawler_spark.operators.seen import bloom_params, filter_bytes
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
    crawler = Crawler(
        spark=spark, pages_path="unused", robots=robots, hosts=hosts,
        checkpoint_dir=str(tmp_path / "ck"), config=CrawlConfig(n_shards=32),
    )

    for tier in ("bloom", "cuckoo"):
        small = {"tier": tier, "per_shard": 50_000, "n_shards": 32}
        assert crawler.bloom_broadcast(small) is True
        # ~10^10 keys over 32 shards: tables alone are gigabytes -> cogrouped
        big = {"tier": tier, "per_shard": 300_000_000, "n_shards": 32}
        assert crawler.bloom_broadcast(big) is False
    # sanity on the threshold arithmetic itself
    m, _ = bloom_params(300_000_000, 0.01)
    assert filter_bytes("bloom", 300_000_000, 32) == (m // 8) * 32
    assert (m // 8) * 32 > BLOOM_BROADCAST_MAX_BYTES
    # robots switch: tiny table -> broadcast (a local frame carries no
    # size estimate: bounded probe)
    assert crawler.robots_broadcast() is True
    # table scans decide from the estimate, without a job
    scans = Crawler(
        spark=spark, pages_path="unused", robots=tables["robots"],
        hosts=tables["hosts"], checkpoint_dir=str(tmp_path / "ck2"),
    )
    # a 10^9-row rules table (the estimate knows its row count)
    huge = Crawler(
        spark=spark, pages_path="unused", robots=spark.range(10**9).selectExpr(
            "cast(id AS string) AS host", "array('/x') AS disallow",
            "0L AS crawl_delay_ms",
        ), hosts=hosts, checkpoint_dir=str(tmp_path / "ck3"),
    )
    sc = spark.sparkContext
    group = "test_size_based_switches"
    sc.setJobGroup(group, "decide the robots and hosts join switches")
    try:
        assert scans.robots_broadcast() is True
        assert scans.hosts_broadcast() is True
        assert huge.robots_broadcast() is False
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


#: hrefs that exercise every canonicalization rule (uppercase host,
#: default port, dot segments, %-escapes, unsorted query, blank and
#: relative hrefs) plus clean ones that take the fast path
MESSY_HREFS = [
    "HTTP://Example.COM:80/a/./b/../c?z=1&a=2#frag",
    "https://example.com:443/%7euser/%2f?b=2&a=1",
    "https://example.com/%7Ea%20b",
    "https://example.com",
    "https://example.com/clean/path.html",
    "https://Example.com/Mixed/Case",
    "http://example.com:8080/x/../y/",
    "relative/page.html",
    "/base/./page",
    "  ",
    "https://user:pw@example.com/x",
]


def _pages_with_outlinks(hrefs_per_page):
    """_fetch_batches input rows: one page per href list (None = a page
    the snapshot has no html for)."""
    import pandas as pd

    rows = []
    for i, hrefs in enumerate(hrefs_per_page):
        html = None if hrefs is None else (
            "<html>" + "".join(f'<a href="{h}">x</a>' for h in hrefs)
            + "</html>"
        ).encode()
        rows.append({
            "url": f"https://p{i}.com/", "host": f"p{i}.com", "depth": 1,
            "score": 1.0, "rank": 1, "crawl_delay_ms": 0,
            "fetch_offset_ms": 0, "url_hash_hi": i, "url_hash_lo": i,
            "warc_ts": pd.Timestamp("2024-01-01"), "html": html,
        })
    return pd.DataFrame(rows)


def test_fetch_batches_canonicalize_outlinks():
    """_fetch_batches emits links_canon element-aligned with the raw
    links: each links_canon[i] is canon_url_py(links[i]), a repeated
    href included; pages without html carry NULL for both, also in a
    batch without a single href."""
    from metadata_crawler_spark.functions.urls import canon_url_py

    pages = [
        MESSY_HREFS + [MESSY_HREFS[0]],  # one href repeated on a page
        list(reversed(MESSY_HREFS[:4])),
        None,
        [],
    ]
    out, bare = round_loop._fetch_batches(iter([
        _pages_with_outlinks(pages), _pages_with_outlinks([None, []]),
    ]))
    assert bare["links_canon"].tolist() == [None, []]
    # mapInPandas matches the batch's columns to FETCH_SCHEMA by name
    assert sorted(out.columns) == sorted(round_loop._FETCH_COLS + ("links_canon",))
    by_url = out.set_index("url")
    for i, hrefs in enumerate(pages):
        row = by_url.loc[f"https://p{i}.com/"]
        if hrefs is None:
            assert row["links"] is None and row["links_canon"] is None
            continue
        assert list(row["links"]) == hrefs
        assert list(row["links_canon"]) == [canon_url_py(h) for h in hrefs]


def test_outlink_children_equal_with_canonical_path(spark):
    """The next frontier's discoveries from in-batch canonical outlinks
    equal the split-union path's (with_canonical over the raw-url
    pre-combine) on messy hrefs: same keys, urls, depths and scores."""
    from metadata_crawler_spark.functions.urls import (
        with_canonical,
        with_url_hash,
    )
    from metadata_crawler_spark.operators.frontier import (
        expand_outlinks,
        valid_urls,
    )

    pages = [MESSY_HREFS, MESSY_HREFS[::2] + MESSY_HREFS[:3], None]
    hits = spark.createDataFrame(
        _pages_with_outlinks(pages)
    ).mapInPandas(round_loop._fetch_batches, round_loop.FETCH_SCHEMA).filter(
        F.col("fetched")
    )
    got = round_loop._combine_frontier(round_loop._outlink_children(hits))
    raw = expand_outlinks(hits, "links", "score", "depth").groupBy("url").agg(
        F.min("depth").alias("depth"), F.sum("score").alias("score")
    )
    want = round_loop._combine_frontier(
        with_url_hash(valid_urls(with_canonical(raw, "url")))
    )
    got_rows = sorted(map(tuple, got.collect()))
    assert got_rows == sorted(map(tuple, want.collect()))
    assert len(got_rows) >= 6  # the canonical variants merged, not dropped


def test_committed_reads_plan_without_jobs(crawl, spark, tmp_path):
    """A resumed round's committed inputs and a recrawl pass's crawl
    reads are planned with the manifest's recorded schemas: no job is
    submitted (no footer inference). A manifest that records no schema
    for a table fails its read."""
    from metadata_crawler_spark.sources.tables import (
        committed_rounds,
        read_rounds,
    )

    crawler, ckpt, _ = crawl
    state = crawler.log.read()
    sc = spark.sparkContext
    group = "test_committed_reads_plan"
    sc.setJobGroup(group, "plan committed-table reads")
    try:
        seen, bloom, frontier = crawler._load_state(2, state)
        fetched = read_rounds(
            spark, ckpt, "fetched", committed_rounds(state, "fetched", 2),
            state,
        )
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert frontier.count() == state["r2"]["frontier_next"]
    assert fetched.filter("fetched").count() == sum(
        state[f"r{r}"]["fetched"] for r in range(3)
    )
    for name in ("bloom", "frontier_next", "scheduled"):
        lost = {**state, "schemas": {
            k: v for k, v in state["schemas"].items() if k != name
        }}
        with pytest.raises(ValueError, match=f"no schema for table '{name}'"):
            crawler._load_state(2, lost)


def test_resumed_round_probes_seen_filter_once(
    crawl, spark, fixture_dir, tables, tmp_path, monkeypatch, probe_nodes
):
    """A resumed round's gated plan (the cached dedup + gates that
    scheduling and the carryover read) runs the seen-filter probe once
    on either probe path: the round caches the probed frontier, and both
    branches of the dedup split read its verdict. Both paths commit the
    same round."""
    import shutil

    _, ckpt, _ = crawl
    gated_probes: list[int] = []
    schedule_eligible = round_loop.schedule_eligible

    def capture(gated, *args, **kwargs):
        gated_probes.append(probe_nodes(gated))
        return schedule_eligible(gated, *args, **kwargs)

    monkeypatch.setattr(round_loop, "schedule_eligible", capture)
    counts = []
    for max_bytes in (round_loop.BLOOM_BROADCAST_MAX_BYTES, 0):
        monkeypatch.setattr(round_loop, "BLOOM_BROADCAST_MAX_BYTES", max_bytes)
        ck = str(tmp_path / f"ck_{max_bytes}")
        shutil.copytree(ckpt, ck)
        res = _mk(spark, fixture_dir, tables, ck).run_round(3, tables["seeds"])
        counts.append({
            k: res[k] for k in ("deduped", "scheduled", "fetched", "frontier_next")
        })
    assert gated_probes == [1, 1]
    assert counts[0] == counts[1] and counts[0]["deduped"] > 0


def test_fetch_join_broadcast_gate(
    spark, fixture_dir, tables, tmp_path_factory, monkeypatch
):
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
    monkeypatch.setattr(round_loop, "SCHEDULED_BROADCAST_MAX_ROWS", 0)
    b = run(CrawlConfig(), ck_b)
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


def test_bucketed_pages_fetch_join(
    spark, fixture_dir, tables, tmp_path_factory, monkeypatch
):
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
            n_shards=8,
            bucketed_pages_table="pages_bucketed_rl",
        )
        cb = Crawler(
            spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
            robots=tables["robots"], hosts=tables["hosts"],
            checkpoint_dir=ck_b, config=cfg,
        )
        with monkeypatch.context() as m:
            # force the fallback join
            m.setattr(round_loop, "SCHEDULED_BROADCAST_MAX_ROWS", 0)
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


def test_seen_compaction_path_bound(
    spark, fixture_dir, tables, tmp_path_factory, monkeypatch
):
    """VERDICT r3 item 4: after thousands of tiny rounds the seen read
    must touch O(SEEN_COMPACT_EVERY) paths, not one per round, and the
    compacted snapshot must equal the full union of all deltas."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    ckpt = str(tmp_path_factory.mktemp("ckpt_compact"))
    monkeypatch.setattr(round_loop, "SEEN_COMPACT_EVERY", 256)
    cfg = CrawlConfig(n_shards=8)
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
    # the manifest records the schema the engine would have written
    state: dict = {"schemas": {"scheduled": StructType.fromDDL(
        "url_hash_hi long, url_hash_lo long, url string"
    ).jsonValue()}}
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
    spark, fixture_dir, tables, tmp_path_factory, monkeypatch
):
    """Crash-restart AFTER a compaction committed must resume from the
    consolidated seen + tail deltas and produce the same crawl as an
    uninterrupted run."""
    monkeypatch.setattr(round_loop, "SEEN_COMPACT_EVERY", 2)
    cfg = CrawlConfig(n_shards=8)

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


def test_pagerank_rescore_round(
    spark, fixture_dir, tables, tmp_path_factory, monkeypatch
):
    """VERDICT r4 item 8 wiring: with pagerank_every=1 each round's next
    frontier carries PageRank-over-accumulated-links scores instead of
    OPIC cash (2 iterations, patched onto the operator the round loop
    calls). The crawl still progresses, scores are valid positive
    probabilities-ish (<=1), and at least one frontier url scores above
    the non-starving floor (i.e. the graph actually contributed)."""
    monkeypatch.setattr(
        round_loop, "rescore_frontier", partial(rescore_frontier, iterations=2)
    )
    ckpt = str(tmp_path_factory.mktemp("ckpt_pr"))
    cfg = CrawlConfig(
        n_shards=8,
        pagerank_every=1,
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
        n_shards=8,
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
        n_shards=8,
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
        n_shards=8,
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


def test_host_cardinalities_refuses_uncommitted_round(
    spark, fixture_dir, tables, tmp_path
):
    """host_cardinalities merges committed sketch tables only: a round
    that crashed after writing its `host_sketch` but before its
    manifest flip is refused, not merged in."""
    from metadata_crawler_spark.operators.sketches import hll_sketches
    from metadata_crawler_spark.sources.tables import (
        ManifestLog,
        write_round_table,
    )

    ckpt = str(tmp_path / "ckpt")
    state = {"last_round": 0, "r0": {"optional_tables": ["host_sketch"]}}
    for rnd in (0, 1):  # round 1 is the crashed orphan
        write_round_table(
            hll_sketches(
                spark.range(10 * (rnd + 1)).selectExpr(
                    "'h.com' AS host", f"concat('https://h.com/{rnd}/', id) AS url"
                ),
                ["host"], "url",
            ),
            ckpt, rnd, "host_sketch", state,
        )
    ManifestLog(ckpt).commit(state)
    c = _mk(spark, fixture_dir, tables, ckpt)
    assert [(r.host, r.n_distinct) for r in c.host_cardinalities(0).collect()] == [
        ("h.com", 10)
    ]
    with pytest.raises(ValueError, match="not committed"):
        c.host_cardinalities(1)


def test_host_sketch_off_raises(spark, fixture_dir, tables, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt_nosketch"))
    c = _mk(spark, fixture_dir, tables, ckpt)
    c.run(tables["seeds"], rounds=1)
    with pytest.raises(ValueError, match="host_sketch"):
        c.host_cardinalities(0)


def _patch_blocklist(monkeypatch, **thresholds):
    """Set the blocklist sweep's thresholds on the operator the round
    loop calls."""
    monkeypatch.setattr(
        round_loop, "blocked_hosts_from_counts",
        partial(blocked_hosts_from_counts, **thresholds),
    )


def test_blocklist_sweep_round(
    spark, fixture_dir, tables, tmp_path_factory, monkeypatch
):
    """blocklist_every wiring: the sweep commits a per-round `blocklist`
    table and junk-dominated hosts leave the next frontier. With an
    impossible flag threshold (>1.0 can never be exceeded) the sweep is
    a no-op on the frontier but the (empty) table still commits; with
    min_docs=1 and threshold 0 every fetched host with a flagged doc is
    a candidate, and none of its urls survive into frontier_next."""
    from metadata_crawler_spark.functions.urls import host_expr

    _patch_blocklist(monkeypatch, max_flag_frac=1.5)
    ckpt = str(tmp_path_factory.mktemp("ckpt_bl_off"))
    cfg = CrawlConfig(
        n_shards=8,
        blocklist_every=1,
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

    _patch_blocklist(monkeypatch, min_docs=1, max_flag_frac=0.0)
    ckpt2 = str(tmp_path_factory.mktemp("ckpt_bl_on"))
    cfg2 = CrawlConfig(
        n_shards=8,
        blocklist_every=1,
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
    spark, fixture_dir, tables, tmp_path_factory, monkeypatch
):
    """The incremental host_quality partials are a pure function of the
    round number (each sweep covers exactly its own span), so a
    kill-after-round-1 resume rebuilds identical partials and blocklist
    totals to a straight run — the additive-counts contract."""
    _patch_blocklist(monkeypatch, min_docs=1, max_flag_frac=0.0)
    cfg = lambda: CrawlConfig(
        n_shards=8,
        blocklist_every=1,
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


@pytest.mark.parametrize("cut", ["blocklist", "trap_hosts"])
def test_blocklist_standing_gate_between_sweeps(
    cut, spark, fixture_dir, tables, tmp_path_factory, monkeypatch
):
    """Non-sweep rounds apply the LATEST committed host cut as a
    standing gate: with a cadence of 2, round 0 mines+commits and
    round 1 is not a sweep — but round 1's frontier_next must still
    exclude the round-0 cut hosts, or their outlinked children re-enter
    and get fetched until the next sweep. Both cut kinds: the blocklist
    at flag threshold 0, and the trap sweep with every supported host a
    trap."""
    from metadata_crawler_spark.functions.urls import host_expr

    if cut == "blocklist":
        _patch_blocklist(monkeypatch, min_docs=1, max_flag_frac=0.0)
        cadence = {"blocklist_every": 2}
    else:
        monkeypatch.setattr(
            round_loop, "trap_hosts_from_partials",
            partial(trap_hosts_from_partials, min_urls=1, max_novelty=1.0),
        )
        cadence = {"trap_every": 2}
    ckpt = str(tmp_path_factory.mktemp(f"ckpt_{cut}_gate"))
    cfg = CrawlConfig(n_shards=8, **cadence)
    c = Crawler(
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ckpt, config=cfg,
    )
    c.run(tables["seeds"], rounds=2)
    blocked = {
        r.domain
        for r in spark.read.parquet(
            os.path.join(ckpt, "round=00000", cut)
        ).collect()
    }
    assert blocked  # both forced thresholds cut every supported host
    # round 1 is not a sweep: it commits no cut table of its own
    assert not os.path.exists(os.path.join(ckpt, "round=00001", cut))
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


#: every config-gated table on: budgets, sketches, and all three sweeps
#: (due in rounds 0 and 2, a standing gate in round 1)
GATED_CFG = CrawlConfig(
    n_shards=8, adapt_budgets=True, host_sketch=True,
    blocklist_every=2, trap_every=2, pagerank_every=2,
)
REQUIRED = {"scheduled", "bloom", "fetched", "metrics", "frontier_next"}


@pytest.fixture(scope="module")
def gated_crawl(spark, fixture_dir, tables, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("ckpt_gated"))
    c = Crawler(
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ckpt, config=GATED_CFG,
    )
    c.run(tables["seeds"], rounds=3)
    return ckpt


def test_manifest_records_optional_tables(gated_crawl):
    """Each round's manifest entry names exactly the config-gated tables
    the round committed: the record readers resolve them from."""
    import json

    with open(os.path.join(gated_crawl, "manifest.json")) as fh:
        state = json.load(fh)
    assert state["last_round"] == 2
    sweep = {
        "hosts", "host_sketch", "host_quality", "blocklist",
        "host_templates", "trap_content_hll", "trap_hosts",
    }
    assert state["r1"]["optional_tables"] == ["host_sketch", "hosts"]
    for r, want in ((0, sweep), (1, {"hosts", "host_sketch"}), (2, sweep)):
        on_disk = set(os.listdir(os.path.join(gated_crawl, f"round={r:05d}")))
        assert set(state[f"r{r}"]["optional_tables"]) == want == (
            on_disk - REQUIRED
        ), r


def _edit_manifest(ck, edit):
    import json

    mpath = os.path.join(ck, "manifest.json")
    with open(mpath) as fh:
        state = json.load(fh)
    edit(state)
    with open(mpath, "w") as fh:
        json.dump(state, fh)


def _gated_copy(gated_crawl, tmp_path, edit=None):
    """A copy of the gated checkpoint, its manifest passed through
    ``edit``."""
    import shutil

    ck = str(tmp_path / "ck")
    shutil.copytree(gated_crawl, ck)
    if edit is not None:
        _edit_manifest(ck, edit)
    return ck


def _rewind_to_round_1(state):
    """Round 2 crashed before its manifest flip: its replay re-runs the
    sweeps."""
    state["last_round"] = 1
    del state["r2"]


@pytest.mark.parametrize("lost,rewind,rounds", [
    # a lost budget table must not reset budgets to the static table
    ("round=00001/hosts", True, 3),
    # a lost newest verdict must not fall back to round 0's as the
    # standing gate of round 3
    ("round=00002/blocklist", False, 4),
    # a lost partial must not drop out of the sweep's sums
    ("round=00000/host_quality", True, 3),
    # a lost fetched round must not drop out of PageRank's link graph
    ("round=00001/fetched", True, 3),
])
def test_lost_recorded_table_fails_the_crawl(
    gated_crawl, spark, fixture_dir, tables, tmp_path, lost, rewind, rounds
):
    """A committed table the manifest names is read by name: losing it
    fails the round that reads it, naming the path, instead of reading
    as a table that was never written."""
    import shutil

    from pyspark.errors import AnalysisException

    ck = _gated_copy(gated_crawl, tmp_path, _rewind_to_round_1 if rewind else None)
    shutil.rmtree(os.path.join(ck, lost))
    c = Crawler(
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ck, config=GATED_CFG,
    )
    with pytest.raises(AnalysisException, match=lost):
        c.run(tables["seeds"], rounds=rounds)


def test_lost_fetched_or_sketch_fails_the_readers(
    gated_crawl, spark, fixture_dir, tables, tmp_path
):
    """The catalogue, the recrawl pass and host_cardinalities read the
    rounds the manifest names: a lost `fetched` or `host_sketch` round
    fails them, naming the path, and a round that committed no sketch
    is refused by number rather than under-counted."""
    import shutil

    from pyspark.errors import AnalysisException

    from metadata_crawler_spark.sources.sinks import read_catalogue

    ck = _gated_copy(gated_crawl, tmp_path)
    c = Crawler(
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ck, config=GATED_CFG,
    )
    shutil.rmtree(os.path.join(ck, "round=00001", "fetched"))
    with pytest.raises(AnalysisException, match="round=00001/fetched"):
        read_catalogue(spark, ck, 2)
    with pytest.raises(AnalysisException, match="round=00001/fetched"):
        c.recrawl_round(0, now_s=1_800_000_000.0)
    assert "last_recrawl" not in c.log.read()
    assert c.host_cardinalities(0).count() > 0
    shutil.rmtree(os.path.join(ck, "round=00001", "host_sketch"))
    with pytest.raises(AnalysisException, match="round=00001/host_sketch"):
        c.host_cardinalities(2)
    # as if round 1 had run with host_sketch off
    _edit_manifest(
        ck, lambda state: state["r1"]["optional_tables"].remove("host_sketch")
    )
    with pytest.raises(ValueError, match="round 1 committed no host_sketch"):
        c.host_cardinalities(2)


def test_unrecorded_optional_tables_refuse_to_resolve(
    gated_crawl, spark, fixture_dir, tables, tmp_path
):
    """A manifest written before rounds recorded their optional tables
    still resolves the required ones, so it resumes under the default
    config; a sweep's standing gate over it raises, naming the round,
    instead of probing storage."""
    def strip(state):
        for r in range(3):
            state[f"r{r}"].pop("optional_tables", None)

    ck = _gated_copy(gated_crawl, tmp_path, strip)

    def mk(cfg):
        return Crawler(
            spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
            robots=tables["robots"], hosts=tables["hosts"],
            checkpoint_dir=ck, config=cfg,
        )

    with pytest.raises(ValueError, match="round 0's manifest entry"):
        mk(CrawlConfig(n_shards=8, blocklist_every=2)).run(
            tables["seeds"], rounds=4
        )
    assert [r["round"] for r in mk(CFG).run(tables["seeds"], rounds=4)] == [3]
