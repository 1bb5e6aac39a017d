"""North-rule equivalence: the engine's multi-round crawl must match an
independent pure-Python reference harvester given the same seed list and
politeness budget — same URL-seen set, same per-round scheduled sets, same
per-host ordering.

The simulator mirrors the reference's semantics re-shaped for URLs:
deterministic total order within a round (depth ASC, score DESC, url ASC
— the analog of the reference's sorted-descending version walk,
/root/reference/src/metadata_crawler/data_collector.py:156-169), per-host
budget caps, robots prefix gating, seen-set suppression of re-discoveries
(the unique-index upsert, api/stores/mongodb.py:135-166), OPIC cash split
over outlinks.
"""

from __future__ import annotations

import os
import re
from collections import defaultdict

import pyspark.sql.functions as F
import pytest

from metadata_crawler_spark.functions.text import extract_text_py, _HREF_RE
from metadata_crawler_spark.functions.urls import canon_url_py
from metadata_crawler_spark.plans.round_loop import CrawlConfig, Crawler
from metadata_crawler_spark.sources.fixtures import gen_fixtures

N_PAGES = 1500
ROUNDS = 3


def simulate_reference_crawl(fixtures, rounds):
    """Pure-Python harvester: dict/list loops only, no Spark."""
    pages = fixtures["pages"]
    robots = {
        r.host: (list(r.disallow), int(r.crawl_delay_ms))
        for r in fixtures["robots"].itertuples()
    }
    budgets = {r.host: int(r.budget) for r in fixtures["hosts"].itertuples()}

    # latest page per canonical url (max warc_ts, tiebreak min raw url)
    by_canon = {}
    for r in pages.itertuples():
        cu = canon_url_py(r.url)
        cur = by_canon.get(cu)
        if cur is None or r.warc_ts > cur[0] or (r.warc_ts == cur[0] and r.url < cur[1]):
            by_canon[cu] = (r.warc_ts, r.url, r.html)

    def host_of(url):
        m = re.match(r"^[a-z]+://([^/:]+)", url)
        return m.group(1) if m else ""

    def allowed(url):
        h = host_of(url)
        dis, _ = robots.get(h, ([], 0))
        path = re.sub(r"^[a-z]+://[^/]*", "", url)
        return not any(path.startswith(d) for d in dis)

    # frontier entries: url -> (depth, score); seeds = fixture seeds
    frontier = {}
    for r in fixtures["seeds"].itertuples():
        cu = canon_url_py(r.url)
        if not re.match(r"^https?://", cu):
            continue
        if cu in frontier:
            d, s = frontier[cu]
            frontier[cu] = (min(d, int(r.depth)), round(s + float(r.priority), 9))
        else:
            frontier[cu] = (int(r.depth), round(float(r.priority), 9))

    seen = set()
    per_round_sched = []
    for _rnd in range(rounds):
        new = {u: ds for u, ds in frontier.items() if u not in seen}
        # robots + validity gate, then per-host budgeted top-k under
        # (depth ASC, score DESC, url ASC)
        cands = [
            (ds[0], -ds[1], u) for u, ds in new.items() if allowed(u)
        ]
        cands.sort()
        by_host = defaultdict(list)
        scheduled = []
        for depth, negscore, url in cands:
            h = host_of(url)
            cap = budgets.get(h, 8)
            if len(by_host[h]) < cap:
                by_host[h].append(url)
                scheduled.append((url, h, len(by_host[h])))
        per_round_sched.append(scheduled)
        seen.update(u for u, _, _ in scheduled)

        # fetch + OPIC expansion
        next_frontier = defaultdict(lambda: [10**9, 0.0])
        for u, ds in new.items():
            if u not in {s[0] for s in scheduled}:
                e = next_frontier[u]
                e[0] = min(e[0], ds[0])
                e[1] += ds[1]
        for url, _h, _rank in scheduled:
            hit = by_canon.get(url)
            if hit is None:
                continue
            depth, score = new[url]
            links = _HREF_RE.findall(hit[2].decode("utf-8"))
            if not links:
                continue
            child_score = score / len(links)
            for link in links:
                cl = canon_url_py(link)
                if not re.match(r"^https?://", cl):
                    continue
                e = next_frontier[cl]
                e[0] = min(e[0], depth + 1)
                e[1] += child_score
        frontier = {
            u: (d, round(s, 9)) for u, (d, s) in next_frontier.items()
        }
    return seen, per_round_sched


@pytest.fixture(scope="module")
def sim_and_engine(spark, tmp_path_factory):
    fixtures = gen_fixtures(N_PAGES)
    sim_seen, sim_sched = simulate_reference_crawl(fixtures, ROUNDS)

    fx_dir = tmp_path_factory.mktemp("ref_fx")
    from metadata_crawler_spark.sources.fixtures import write_fixtures

    d = str(fx_dir)
    write_fixtures(d, N_PAGES)
    ck = str(tmp_path_factory.mktemp("ref_ck"))
    crawler = Crawler(
        spark=spark,
        pages_path=os.path.join(d, "pages.parquet"),
        robots=spark.read.parquet(os.path.join(d, "robots.parquet")),
        hosts=spark.read.parquet(os.path.join(d, "hosts.parquet")),
        checkpoint_dir=ck,
        config=CrawlConfig(n_shards=8),
    )
    crawler.run(spark.read.parquet(os.path.join(d, "seeds.parquet")), rounds=ROUNDS)
    return sim_seen, sim_sched, ck


def test_seen_set_matches_reference(spark, sim_and_engine):
    sim_seen, _, ck = sim_and_engine
    eng_seen = {
        r.url
        for r in spark.read.parquet(
            *[os.path.join(ck, f"round={i:05d}", "scheduled") for i in range(ROUNDS)]
        ).collect()
    }
    assert eng_seen == sim_seen


def test_per_round_scheduled_sets_match(spark, sim_and_engine):
    _, sim_sched, ck = sim_and_engine
    for i in range(ROUNDS):
        eng = {
            (r.url, r.host, r.rank)
            for r in spark.read.parquet(
                os.path.join(ck, f"round={i:05d}", "scheduled")
            ).collect()
        }
        sim = set(sim_sched[i])
        assert eng == sim, (
            f"round {i}: engine-only={sorted(eng - sim)[:4]} "
            f"sim-only={sorted(sim - eng)[:4]}"
        )
