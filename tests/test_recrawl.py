"""Revalidation-aware recrawl: revalidate / classify_refetch /
checks_delta / Crawler.recrawl_round — the conditional-fetch (HTTP 304
analog) freshness loop."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from metadata_crawler_spark.operators.changes import (
    checks_delta,
    classify_refetch,
    estimate_change_rate,
    revalidate,
    revalidation_stats,
    revisit_schedule,
    stored_bytes,
)


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module")
def stores(spark):
    # prior store: what the crawler holds
    prior = _df(
        spark,
        [
            ("https://a/1", "alpha body"),
            ("https://a/2", "beta body"),
            ("https://a/3", "gamma body"),
            ("https://a/4", None),  # stored with NULL content
            ("https://a/gone", "dead page"),
        ],
        "url string, text string",
    )
    # live snapshot: what a re-fetch would return now
    pages = _df(
        spark,
        [
            ("https://a/1", "alpha body"),  # unchanged -> 304
            ("https://a/2", "beta body v2"),  # changed -> modified
            ("https://a/3", "gamma body"),  # unchanged -> 304
            ("https://a/4", None),  # NULL == NULL -> 304
            ("https://a/new", "fresh page"),  # not in prior -> new
        ],
        "page_url string, text string",
    )
    return prior, pages


def _status_map(df):
    return {
        r["url"]: (r["status"], r["changed"], r["store_row"], r["bytes_saved"])
        for r in df.collect()
    }


def test_classify_refetch_statuses(spark, stores):
    prior, pages = stores
    fetched = pages.select(F.col("page_url").alias("url"), "text")
    out = _status_map(classify_refetch(fetched, prior))
    assert out["https://a/1"] == ("not_modified", False, False, len("alpha body"))
    assert out["https://a/2"] == ("modified", True, True, 0)
    assert out["https://a/3"] == ("not_modified", False, False, len("gamma body"))
    # NULL prior content vs NULL refetch: eqNullSafe -> not modified,
    # and the saved transfer is 0 bytes (nothing was stored)
    assert out["https://a/4"] == ("not_modified", False, False, 0)
    assert out["https://a/new"] == ("new", None, True, 0)
    assert "https://a/gone" not in out  # prior-only urls are not fetched rows


def test_classify_refetch_explicit_etag(spark, stores):
    """An explicit validator column overrides the content-hash default:
    a stale etag forces 'modified' even when bodies match."""
    prior, pages = stores
    p = prior.withColumn(
        "etag",
        F.when(F.col("url") == "https://a/1", F.lit("stale-etag")).otherwise(
            F.md5("text")
        ),
    )
    fetched = pages.select(F.col("page_url").alias("url"), "text")
    out = _status_map(classify_refetch(fetched, p, etag_col="etag"))
    assert out["https://a/1"][0] == "modified"
    assert out["https://a/3"][0] == "not_modified"


def test_classify_refetch_broadcast_paths_agree(spark, stores):
    prior, pages = stores
    fetched = pages.select(F.col("page_url").alias("url"), "text")
    bc = classify_refetch(fetched, prior, fetched_broadcast=True)
    sh = classify_refetch(fetched, prior, fetched_broadcast=False)
    assert sorted(map(tuple, bc.collect())) == sorted(map(tuple, sh.collect()))


def test_revalidate_presence_from_flag(spark):
    """The 304 decision reads presence from the explicit hit flag, never
    from content nullness: a hit whose re-fetch extracts to NULL is
    compared (NULL == NULL is not_modified), and only a url with no
    re-fetch row is gone."""
    df = _df(
        spark,
        [
            ("same", True, "body", "body"),
            ("diff", True, "body", "body v2"),
            ("null_both", True, None, None),
            ("null_new", True, "body", None),
            ("gone", None, "body", None),
        ],
        "url string, _hit boolean, stored string, content string",
    )
    classified = df.select(
        "url",
        *revalidate(
            F.col("_hit"), F.md5("stored"), F.md5("content"),
            stored_bytes(F.col("stored")),
        ),
    )
    out = _status_map(classified)
    assert out["same"] == ("not_modified", False, False, len("body"))
    assert out["diff"] == ("modified", True, True, 0)
    assert out["null_both"] == ("not_modified", False, False, 0)
    assert out["null_new"] == ("modified", True, True, 0)
    assert out["gone"] == ("gone", None, False, 0)
    stats = {
        r["status"]: (r["n_urls"], r["bytes_saved"])
        for r in revalidation_stats(classified).collect()
    }
    assert stats == {
        "not_modified": (2, len("body")), "modified": (2, 0), "gone": (1, 0),
    }


def test_checks_delta_feeds_estimator(spark, stores):
    """The loop closes: recrawl checks append to the history and move
    the Cho & Garcia-Molina estimate; rows with no comparison (here a
    first fetch, ``new``) stay out."""
    prior, pages = stores
    fetched = pages.select(F.col("page_url").alias("url"), "text").filter(
        F.col("url").isin("https://a/1", "https://a/2", "https://a/new")
    )
    classified = classify_refetch(fetched, prior)
    delta = checks_delta(classified, now_s=2_000_000.0)
    rows = {r["url"]: r["changed"] for r in delta.collect()}
    assert rows == {"https://a/1": False, "https://a/2": True}
    history = _df(
        spark,
        [
            ("https://a/1", 1_000_000.0, False),
            ("https://a/2", 1_000_000.0, True),
        ],
        "url string, ts double, changed boolean",
    ).unionByName(delta)
    rates = estimate_change_rate(history)
    got = {r["url"]: r for r in rates.collect()}
    assert got["https://a/1"]["n_checks"] == 2
    assert got["https://a/1"]["n_changed"] == 0
    assert got["https://a/2"]["n_changed"] == 2
    # changing page earns a shorter revisit interval than the static one
    sched = {
        r["url"]: r["revisit_interval_s"]
        for r in revisit_schedule(rates).collect()
    }
    assert sched["https://a/2"] < sched["https://a/1"]


def test_prior_never_hash_build_side(spark, stores):
    """Plan hygiene: with the batch broadcast, the only broadcast
    exchanges carry the batch/hit-url side — the prior store must never
    be collected for a broadcast hash join."""
    prior, pages = stores
    fetched = pages.select(F.col("page_url").alias("url"), "text")
    plan = classify_refetch(
        fetched, prior, fetched_broadcast=True
    )._jdf.queryExecution().executedPlan().toString()
    # both joins are BroadcastHashJoins whose build side is the batch
    assert plan.count("BroadcastHashJoin") >= 1
    # a broadcast of the prior relation would appear as a
    # BroadcastExchange feeding from the prior scan; the prior side is
    # only ever the streamed side. Heuristic: the plan has exactly as
    # many BroadcastExchange nodes as joins, and the fetched-side
    # localCheckpoint/scan feeds them (no md5 of the PRIOR column inside
    # a broadcast subtree would be hard to assert textually, so assert
    # the join count instead and rely on the agreement test above).
    assert "SortMergeJoin" not in plan


def test_crawler_recrawl_round_e2e(spark, fixture_dir, tables, tmp_path_factory):
    """The integrated freshness pass: crawl -> recrawl pass 0 revisits
    every fetched url (all not_modified against an unchanged web, no
    re-store), pass 1 before the schedule's next_due is an empty pass,
    and after the web mutates a due pass re-stores exactly the changed
    urls' re-extracted text."""
    import os

    from metadata_crawler_spark.plans.round_loop import CrawlConfig, Crawler

    ckpt = str(tmp_path_factory.mktemp("ckpt_recrawl"))
    mk = lambda pages: Crawler(
        spark=spark, pages_path=pages,
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ckpt,
        config=CrawlConfig(
            n_shards=8
        ),
    )
    pages_path = os.path.join(fixture_dir, "pages.parquet")
    c = mk(pages_path)
    res = c.run(tables["seeds"], rounds=2)
    n_fetched_urls = (
        spark.read.parquet(
            *[os.path.join(ckpt, f"round={r:05d}", "fetched") for r in (0, 1)]
        )
        .filter("fetched AND text IS NOT NULL")
        .select("url").distinct().count()
    )
    assert n_fetched_urls > 0

    t0 = 1_800_000_000.0
    # the pass builds its comparison prior once: exactly one SQL
    # execution scans the committed fetched tables. The status store
    # keeps a bounded, id-ordered window of executions, so the pass's
    # executions are found by id, newest first, once the listener bus
    # that fills it has drained.
    status = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    bus.waitUntilEmpty()
    execs = status.executionsList()
    last_id = execs.last().executionId() if execs.size() else -1
    counts0 = c.recrawl_round(0, now_s=t0)
    fetched_dir = os.path.join(ckpt, "round=00000", "fetched")
    bus.waitUntilEmpty()
    execs = status.executionsList()
    pass_execs = []
    for i in reversed(range(execs.size())):
        if execs.apply(i).executionId() <= last_id:
            break
        pass_execs.append(execs.apply(i).physicalPlanDescription())
    assert pass_execs
    assert sum(fetched_dir in plan for plan in pass_execs) == 1
    assert set(counts0) == {"not_modified"}
    assert counts0["not_modified"][0] == n_fetched_urls
    assert counts0["not_modified"][1] > 0  # bytes a 304 saved
    refreshed0 = spark.read.parquet(
        os.path.join(ckpt, "round=00000", "recrawl_refreshed")
    )
    assert refreshed0.count() == 0  # nothing re-stored
    checks0 = spark.read.parquet(
        os.path.join(ckpt, "round=00000", "recrawl_checks")
    )
    assert checks0.count() == n_fetched_urls
    assert checks0.filter("changed").count() == 0

    # pass 1 an hour later: every url is scheduled out to the slow lane
    counts1 = c.recrawl_round(1, now_s=t0 + 3600.0)
    assert counts1 == {}
    report1 = spark.read.parquet(
        os.path.join(ckpt, "round=00001", "recrawl_report")
    )
    assert report1.count() == 0
    assert [(f.name, f.dataType.simpleString()) for f in report1.schema] == [
        ("status", "string"), ("n_urls", "bigint"), ("bytes_saved", "bigint"),
    ]

    # the next pass's reads of the committed crawl and recrawl history
    # are planned with the manifest's recorded schemas: no job
    from metadata_crawler_spark.sources.tables import (
        committed_rounds,
        read_rounds,
    )

    state = c.log.read()
    sc = spark.sparkContext
    group = "test_recrawl_reads_plan"
    sc.setJobGroup(group, "plan a recrawl pass's reads")
    try:
        for name, upto in (("fetched", 1), ("recrawl_refreshed", 1),
                           ("recrawl_checks", 1)):
            read_rounds(
                spark, ckpt, name, committed_rounds(state, name, upto), state
            )
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)

    # the web mutates: ~1/5 of pages gain a paragraph; a due pass must
    # re-store exactly those urls' re-extracted text
    mutated_dir = str(tmp_path_factory.mktemp("pages_mut")) + "/pages.parquet"
    spark.read.parquet(pages_path).withColumn(
        "html",
        F.when(
            F.crc32("url") % 5 == 0,
            F.concat("html", F.lit(b"<p>breaking update</p>")),
        ).otherwise(F.col("html")),
    ).write.parquet(mutated_dir)
    c2 = mk(mutated_dir)
    counts2 = c2.recrawl_round(2, now_s=t0 + 40 * 24 * 3600.0)
    assert set(counts2) <= {"not_modified", "modified"}
    assert counts2["modified"][0] > 0
    assert (
        counts2["modified"][0] + counts2["not_modified"][0] == n_fetched_urls
    )
    refreshed2 = spark.read.parquet(
        os.path.join(ckpt, "round=00002", "recrawl_refreshed")
    )
    assert refreshed2.count() == counts2["modified"][0]
    assert refreshed2.filter(
        F.col("text").contains("breaking update")
    ).count() == refreshed2.count()
    # and the change observations landed for the NEXT estimator pass
    checks2 = spark.read.parquet(
        os.path.join(ckpt, "round=00002", "recrawl_checks")
    )
    assert checks2.filter("changed").count() == counts2["modified"][0]

    # pass 3, web unchanged since pass 2: the refreshed text must be the
    # comparison prior — every due url is not_modified and nothing is
    # re-stored (the regression: comparing against the stale CRAWL text
    # would re-classify pass-2's modified urls modified forever)
    counts3 = c2.recrawl_round(3, now_s=t0 + 80 * 24 * 3600.0)
    assert set(counts3) == {"not_modified"}
    assert counts3["not_modified"][0] == n_fetched_urls
    refreshed3 = spark.read.parquet(
        os.path.join(ckpt, "round=00003", "recrawl_refreshed")
    )
    assert refreshed3.count() == 0

    # an UNCOMMITTED pass stays invisible (tables.py contract): simulate
    # pass 4 crashing after write_round_table but before the manifest
    # commit — a poisoned refreshed row claiming a due url's text
    # changed to junk must NOT become the comparison prior when pass 4
    # is REPLAYED (the recovery path: replay overwrites the orphans)
    from metadata_crawler_spark.sources.tables import write_round_table

    victim = min(r["url"] for r in refreshed2.select("url").collect())
    write_round_table(
        spark.createDataFrame(
            [(victim, "orphan junk body", 4)],
            "url string, text string, recrawl_pass int",
        ),
        ckpt, 4, "recrawl_refreshed",
    )
    write_round_table(
        spark.createDataFrame([], "url string, ts double, changed boolean"),
        ckpt, 4, "recrawl_checks",
    )
    counts4 = c2.recrawl_round(4, now_s=t0 + 160 * 24 * 3600.0)
    # a visible poisoned overlay would classify `victim` modified;
    # committed-only reads keep every url not_modified, and the replay
    # overwrote the orphan delta with the true (empty) one
    assert set(counts4) == {"not_modified"}
    assert counts4["not_modified"][0] == n_fetched_urls
    assert spark.read.parquet(
        os.path.join(ckpt, "round=00004", "recrawl_refreshed")
    ).count() == 0

    # skipping ahead of committed history is rejected (it would bless
    # any orphan round dirs between last_recrawl and the skipped-to pass)
    with pytest.raises(ValueError, match="skips committed history"):
        c2.recrawl_round(6, now_s=t0 + 161 * 24 * 3600.0)

    # re-running a pass <= last_recrawl is rejected too: it would
    # rewrite committed history with a different now_s and regress
    # last_recrawl, demoting pass 4 to an invisible orphan
    with pytest.raises(ValueError, match="out of sequence"):
        c2.recrawl_round(3, now_s=t0 + 321 * 24 * 3600.0)


def _model_recrawl_pass(
    history: dict,
    stored: dict,
    live: dict,
    deleted: set,
    now: float,
    min_i: float = 3600.0,
    max_i: float = 30 * 24 * 3600.0,
    target: float = 1.0,
):
    """Independent pure-Python model of one Crawler.recrawl_round pass:
    Cho-GM estimator + clamp schedule decide the due set from the check
    history; due urls missing from the live web (``deleted``) are gone,
    the rest classify modified/not_modified against it; modified urls
    update the stored overlay and every due url that was not gone
    appends a check observation. Returns {url: status} for the pass."""
    import math

    due = []
    for u in sorted(stored):
        h = history.get(u, [])
        if h:
            n = len(h)
            x = sum(1 for _, c in h if c)
            first, last = h[0][0], h[-1][0]
            avg = (last - first) / (n - 1) if n > 1 else None
            lam = None
            if n > 1 and avg is not None and avg > 0:
                lam = -math.log((n - x + 0.5) / (n + 0.5)) / avg
            raw = (target / lam) if (lam is not None and lam > 0) else None
            interval = min(max(raw if raw is not None else max_i, min_i), max_i)
            if last + interval > now:
                continue
        due.append(u)
    statuses = {}
    for u in due:
        if u in deleted:
            # no content, so no change observation and the stored text
            # stays the comparison prior
            statuses[u] = "gone"
            continue
        if live[u] != stored[u]:
            statuses[u] = "modified"
            stored[u] = live[u]
        else:
            statuses[u] = "not_modified"
        history.setdefault(u, []).append((now, statuses[u] == "modified"))
    return statuses


@pytest.mark.parametrize("seed", [7, 23, 101])
def test_recrawl_rounds_match_independent_model(
    spark, fixture_dir, tables, tmp_path_factory, seed
):
    """Model-based check of the whole freshness state machine: random
    per-pass page mutations and deletions + random pass spacings, engine passes vs the
    pure-Python simulator above — per-pass due sets, per-url statuses,
    the re-store set, and the appended check observations must all
    agree. Exercises the estimator/schedule/overlay interplay the
    deterministic e2e test can't (multi-mutation urls, urls drifting in
    and out of the due set, refreshed-overlay supersession chains, gone
    urls that come back)."""
    import os
    import random

    from metadata_crawler_spark.plans.round_loop import CrawlConfig, Crawler

    rng = random.Random(seed)
    ckpt = str(tmp_path_factory.mktemp(f"ckpt_model_{seed}"))
    pages_path = os.path.join(fixture_dir, "pages.parquet")

    def mk(pages):
        return Crawler(
            spark=spark, pages_path=pages,
            robots=tables["robots"], hosts=tables["hosts"],
            checkpoint_dir=ckpt,
            config=CrawlConfig(n_shards=8),
        )

    mk(pages_path).run(tables["seeds"], rounds=1)
    fetched_urls = sorted(
        r["url"]
        for r in spark.read.parquet(
            os.path.join(ckpt, "round=00000", "fetched")
        ).filter("fetched AND text IS NOT NULL").select("url").collect()
    )
    assert fetched_urls
    # model state: content versions (0 = crawl text); the live web
    # version bumps on mutation, the stored version on a modified pass
    stored = {u: 0 for u in fetched_urls}
    live = {u: 0 for u in fetched_urls}
    history: dict = {}

    base_pages = spark.read.parquet(pages_path)
    t = 1_800_000_000.0
    mut_dir = str(tmp_path_factory.mktemp(f"pages_model_{seed}"))
    for k in range(4):
        t += rng.uniform(0.2, 45.0) * 24 * 3600.0
        # mutate ~30% of fetched urls: cumulative distinct markers so
        # every bump changes the extracted text vs ALL prior versions
        muts = [u for u in fetched_urls if rng.random() < 0.3]
        for u in muts:
            live[u] += 1
        # ~8% of fetched urls are missing from this pass's snapshot
        deleted = {u for u in fetched_urls if rng.random() < 0.08}
        mut_map = spark.createDataFrame(
            [(u, v) for u, v in live.items() if v > 0],
            "m_url string, m_ver int",
        )
        pages_k = os.path.join(mut_dir, f"pages_{k}.parquet")
        # the crawler keys its snapshot by CANONICAL url (pages_snapshot
        # latest_per_key on url_canon), so a mutation or deletion must
        # land on every raw row of the canonical group the fetched url
        # names
        from metadata_crawler_spark.functions.urls import canonicalize_udf

        base_pages.withColumn("_canon", canonicalize_udf("url")).filter(
            ~F.col("_canon").isin(sorted(deleted))
        ).join(
            mut_map, F.col("_canon") == mut_map["m_url"], "left"
        ).withColumn(
            "html",
            F.when(
                F.col("m_ver").isNotNull(),
                F.concat(
                    "html",
                    F.encode(
                        F.concat(
                            F.lit("<p>mutation v"),
                            F.col("m_ver").cast("string"),
                            F.lit(" of "), F.col("url"),
                            F.lit("</p>"),
                        ),
                        "UTF-8",
                    ),
                ),
            ).otherwise(F.col("html")),
        ).drop("m_url", "m_ver", "_canon").write.parquet(pages_k)

        want = _model_recrawl_pass(history, stored, live, deleted, t)
        got_counts = mk(pages_k).recrawl_round(k, now_s=t)

        want_counts = {}
        for s in want.values():
            want_counts[s] = want_counts.get(s, 0) + 1
        assert {s: n for s, (n, _) in got_counts.items()} == want_counts, (
            f"seed={seed} pass={k}"
        )
        # the committed report (observed on the checks write, gone urls
        # included) is the returned counts
        assert {
            r["status"]: (r["n_urls"], r["bytes_saved"])
            for r in spark.read.parquet(
                os.path.join(ckpt, f"round={k:05d}", "recrawl_report")
            ).collect()
        } == got_counts, f"seed={seed} pass={k}"
        checks_k = {
            (r["url"], bool(r["changed"]))
            for r in spark.read.parquet(
                os.path.join(ckpt, f"round={k:05d}", "recrawl_checks")
            ).collect()
        }
        assert checks_k == {
            (u, s == "modified") for u, s in want.items() if s != "gone"
        }, f"seed={seed} pass={k}"
        refreshed_k = {
            r["url"]
            for r in spark.read.parquet(
                os.path.join(ckpt, f"round={k:05d}", "recrawl_refreshed")
            ).collect()
        }
        assert refreshed_k == {
            u for u, s in want.items() if s == "modified"
        }, f"seed={seed} pass={k}"


def test_recrawl_refuses_uncommitted_round_zero(
    spark, fixture_dir, tables, tmp_path
):
    """A crashed round 0 leaves its fetched table on disk without a
    manifest entry: a recrawl pass must not read it as crawl data, and
    must commit nothing."""
    import os
    from datetime import datetime

    from metadata_crawler_spark.plans.round_loop import Crawler
    from metadata_crawler_spark.sources.tables import write_round_table

    ckpt = str(tmp_path / "ckpt")
    orphan = spark.createDataFrame(
        [("https://a.example.com/1", True, datetime(2024, 1, 1), "body")],
        "url string, fetched boolean, warc_ts timestamp_ntz, text string",
    )
    write_round_table(orphan, ckpt, 0, "fetched")
    c = Crawler(
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"], checkpoint_dir=ckpt,
    )
    with pytest.raises(ValueError, match="needs committed crawl rounds"):
        c.recrawl_round(0, now_s=1_800_000_000.0)
    assert "last_recrawl" not in (c.log.read() or {})
