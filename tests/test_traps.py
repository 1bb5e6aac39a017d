"""Content-aware crawler-trap detection (operators/traps): per-host
novelty collapse + template concentration over fetched bodies — the
post-fetch tier beside functions/urls.detect_url_traps' per-URL gate."""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from metadata_crawler_spark.operators.traps import detect_trap_hosts


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    # calendar trap: 60 urls, ONE template, 2 distinct contents
    for i in range(60):
        rows.append(
            (f"https://trap.ex/cal?y={2000 + i // 12}&m={i % 12}",
             f"calendar page {i % 2}")
        )
    # healthy host: 120 urls over two template families, distinct content
    for i in range(60):
        rows.append((f"https://good.ex/article/{i}/x{i}", f"article body {i}"))
        rows.append((f"https://good.ex/tag/t{i}", f"tag page {i}"))
    # session-id maze: one template covers everything but every page
    # differs (novelty 1.0 — only the concentration signal can fire)
    for i in range(60):
        rows.append((f"https://maze.ex/p?sid={i:06d}", f"maze {i}"))
    # small host below support: looks trappy but must not fire
    for i in range(5):
        rows.append((f"https://tiny.ex/cal?d={i}", "same page"))
    return spark.createDataFrame(rows, "url string, text string")


def test_detect_trap_hosts(spark, corpus):
    rep = {r["domain"]: r for r in detect_trap_hosts(corpus).collect()}
    t = rep["trap.ex"]
    assert t["trap"] and t["n_urls"] == 60 and t["n_content"] == 2
    assert t["novelty_frac"] == pytest.approx(2 / 60, abs=1e-6)
    # shared collapse with the per-URL tier: url_template_expr format
    assert t["top_template"] == "trap.ex/cal?m,y"
    assert t["top_template_n"] == 60
    g = rep["good.ex"]
    assert not g["trap"]
    assert g["n_urls"] == 120 and g["n_content"] == 120
    assert g["top_template_frac"] == pytest.approx(0.5, abs=1e-6)
    m = rep["maze.ex"]  # novelty fine, template concentration fires
    assert m["trap"] and m["novelty_frac"] == 1.0
    assert m["top_template"] == "maze.ex/p?sid"
    assert m["top_template_frac"] == 1.0
    assert not rep["tiny.ex"]["trap"]  # support gate


def test_trap_thresholds_and_blocklist_shape(spark, corpus):
    # raising the support gate above every host turns detection off
    rep = detect_trap_hosts(corpus, min_urls=1000)
    assert rep.filter("trap").count() == 0
    # trap rows feed filter_blocked_hosts via the domain column
    from metadata_crawler_spark.functions.urls import filter_blocked_hosts

    blocked = detect_trap_hosts(corpus).filter("trap").select("domain")
    kept = filter_blocked_hosts(corpus, blocked)
    hosts = {r["d"] for r in kept.select(
        F.expr("parse_url(url, 'HOST')").alias("d")).distinct().collect()}
    assert hosts == {"good.ex", "tiny.ex"}


def test_approx_path_agrees(spark, corpus):
    exact = {r["domain"]: r for r in detect_trap_hosts(corpus).collect()}
    ap = {r["domain"]: r for r in detect_trap_hosts(corpus, approx=True).collect()}
    assert set(exact) == set(ap)
    for d in exact:
        assert exact[d]["trap"] == ap[d]["trap"], d
        # HLL error is small at these cardinalities
        assert abs(exact[d]["n_content"] - ap[d]["n_content"]) <= max(
            2, 0.05 * exact[d]["n_content"]
        ), d


def test_complements_per_url_tier(spark, corpus):
    """The session maze stays invisible to the pre-fetch per-URL tier at
    a per-round explosion bar above its batch size — but the post-fetch
    host tier catches it from template concentration."""
    from metadata_crawler_spark.functions.urls import detect_url_traps

    maze = corpus.filter(F.col("url").startswith("https://maze.ex/"))
    per_url = detect_url_traps(maze, max_template_urls=1000)
    assert per_url.filter("trap").count() == 0
    host_tier = detect_trap_hosts(maze)
    assert [r["domain"] for r in host_tier.filter("trap").collect()] == [
        "maze.ex"
    ]


def test_no_text_past_first_exchange(spark, corpus):
    """Plan hygiene: page bodies are hashed map-side; no exchange carries
    the text column."""
    plan = detect_trap_hosts(corpus)._jdf.queryExecution().executedPlan().toString()
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)
    assert "xxhash64" in plan  # content hashed, not compared raw


def test_partials_merge_equals_one_shot(spark, corpus):
    """Crawl-loop contract: additive template partials + mergeable HLL
    sketches from two disjoint spans reproduce the one-shot approx
    verdicts (same thresholds via the shared assembly)."""
    from metadata_crawler_spark.operators.traps import (
        trap_content_sketch,
        trap_hosts_from_partials,
        trap_template_partial,
    )

    h = F.crc32(F.col("url")) % 2
    spans = [corpus.filter(h == i) for i in (0, 1)]
    tpl = trap_template_partial(spans[0]).unionByName(
        trap_template_partial(spans[1])
    )
    hll = trap_content_sketch(spans[0]).unionByName(
        trap_content_sketch(spans[1])
    )
    merged = {
        r["domain"]: r for r in trap_hosts_from_partials(tpl, hll).collect()
    }
    one_shot = {
        r["domain"]: r for r in detect_trap_hosts(corpus).collect()
    }
    assert set(merged) == set(one_shot)
    for d in one_shot:
        m, o = merged[d], one_shot[d]
        assert m["trap"] == o["trap"], d
        assert m["n_urls"] == o["n_urls"], d
        assert m["top_template"] == o["top_template"], d
        assert m["top_template_n"] == o["top_template_n"], d
        # merged novelty is a DataSketches-HLL estimate of the exact
        # count (a DIFFERENT estimator than approx_count_distinct's
        # HLL++, so compare against exact, not estimator-vs-estimator)
        assert abs(m["n_content"] - o["n_content"]) <= max(
            2, 0.10 * o["n_content"]
        ), d


def test_trap_sweep_in_crawl_loop(
    spark, fixture_dir, tables, tmp_path_factory, monkeypatch
):
    """trap_every wiring: the sweep commits host_templates +
    trap_content_hll partials and a trap_hosts verdict table; with an
    impossible support bar the frontier is untouched, with an
    everything-is-a-trap bar every fetched host leaves frontier_next.
    The bars are set on the operator the round loop calls."""
    import os
    from functools import partial

    from metadata_crawler_spark.functions.urls import host_expr
    from metadata_crawler_spark.operators.traps import trap_hosts_from_partials
    from metadata_crawler_spark.plans import round_loop
    from metadata_crawler_spark.plans.round_loop import CrawlConfig, Crawler

    def bars(**thresholds):
        monkeypatch.setattr(
            round_loop, "trap_hosts_from_partials",
            partial(trap_hosts_from_partials, **thresholds),
        )

    common = dict(n_shards=8)
    bars(min_urls=10**9)
    ckpt = str(tmp_path_factory.mktemp("ckpt_trap_off"))
    c = Crawler(
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ckpt,
        config=CrawlConfig(**common, trap_every=1),
    )
    res = c.run(tables["seeds"], rounds=2)
    assert sum(r["scheduled"] for r in res) > 0
    for t in ("host_templates", "trap_content_hll", "trap_hosts"):
        p = os.path.join(ckpt, "round=00000", t)
        assert os.path.isdir(p), t
    assert spark.read.parquet(
        os.path.join(ckpt, "round=00000", "trap_hosts")
    ).count() == 0  # impossible support bar -> no verdicts

    bars(min_urls=1, max_novelty=1.0)
    ckpt2 = str(tmp_path_factory.mktemp("ckpt_trap_on"))
    c2 = Crawler(
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=ckpt2,
        config=CrawlConfig(**common, trap_every=1),
    )
    c2.run(tables["seeds"], rounds=1)
    trapped = {
        r["domain"] for r in spark.read.parquet(
            os.path.join(ckpt2, "round=00000", "trap_hosts")
        ).collect()
    }
    assert trapped  # max_novelty=1.0 flags every supported host
    nxt = spark.read.parquet(
        os.path.join(ckpt2, "round=00000", "frontier_next")
    ).select(host_expr(F.col("url")).alias("h")).distinct()
    assert not (trapped & {r["h"] for r in nxt.collect()})
