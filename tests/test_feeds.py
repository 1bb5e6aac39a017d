"""RSS/Atom feed ingestion: parse both dialects (date ladders, link
variants, entities), autodiscovery from HTML, seeds aggregation."""

from __future__ import annotations

from datetime import datetime

import pytest

from metadata_crawler_spark.functions.feeds import (
    discover_feeds,
    feed_seeds,
    parse_feed,
)

RSS = """<?xml version="1.0"?>
<rss version="2.0"><channel>
  <title>Example blog</title>
  <item>
    <title>First &amp; finest</title>
    <link>https://ex.com/a</link>
    <pubDate>Mon, 05 May 2025 10:30:00 +0000</pubDate>
  </item>
  <item>
    <title>GMT named zone</title>
    <link>https://ex.com/b</link>
    <pubDate>Tue, 6 May 2025 08:00:00 GMT</pubDate>
  </item>
  <item>
    <title>guid permalink fallback</title>
    <guid isPermaLink="true">https://ex.com/c</guid>
    <pubDate>not a date</pubDate>
  </item>
  <item>
    <title>bare guid is a permalink by default</title>
    <guid>https://ex.com/d</guid>
  </item>
  <item>
    <title>explicit non-permalink guid — dropped</title>
    <guid isPermaLink="false">tag:ex.com,2025:xyz</guid>
  </item>
  <item>
    <title>no link at all — dropped</title>
  </item>
</channel></rss>"""

ATOM = """<?xml version="1.0"?>
<feed xmlns="http://www.w3.org/2005/Atom">
  <title>Atom feed</title>
  <entry>
    <title>alternate rel</title>
    <link rel="alternate" href="https://ex.org/x"/>
    <published>2025-05-01T10:00:00.123Z</published>
  </entry>
  <entry>
    <title>href before rel</title>
    <link href="https://ex.org/y" rel="alternate"/>
    <updated>2025-05-02T11:00:00+02:00</updated>
  </entry>
  <entry>
    <title>rel-less link</title>
    <link href="https://ex.org/z"/>
    <updated>2025-05-03</updated>
  </entry>
  <entry>
    <title>self link only — dropped</title>
    <link rel="self" href="https://ex.org/feed.xml"/>
  </entry>
</feed>"""


@pytest.fixture(scope="module")
def feed_df(spark):
    return spark.createDataFrame(
        [("https://ex.com/feed", RSS), ("https://ex.org/atom", ATOM)],
        "feed_url string, xml string",
    )


def test_parse_rss_entries(spark, feed_df):
    rows = {r.url: r for r in parse_feed(feed_df).filter("kind = 'rss'").collect()}
    assert set(rows) == {
        "https://ex.com/a", "https://ex.com/b", "https://ex.com/c",
        "https://ex.com/d",  # bare guid: isPermaLink defaults to true
    }
    assert rows["https://ex.com/a"].title == "First & finest"
    assert rows["https://ex.com/a"].published == datetime(2025, 5, 5, 10, 30)
    assert rows["https://ex.com/b"].published == datetime(2025, 5, 6, 8, 0)
    assert rows["https://ex.com/c"].published is None  # bad date -> NULL


def test_parse_atom_entries(spark, feed_df):
    rows = {r.url: r for r in parse_feed(feed_df).filter("kind = 'atom'").collect()}
    assert set(rows) == {"https://ex.org/x", "https://ex.org/y", "https://ex.org/z"}
    assert rows["https://ex.org/x"].published == datetime(2025, 5, 1, 10, 0)
    # +02:00 normalized to UTC-naive session time
    assert rows["https://ex.org/y"].published == datetime(2025, 5, 2, 9, 0)
    assert rows["https://ex.org/z"].published == datetime(2025, 5, 3)


def test_autodiscovery(spark):
    html = (
        b'<html><head>'
        b'<link rel="alternate" type="application/rss+xml" href="/feed.xml">'
        b"<link type='application/atom+xml' href='https://ex.com/atom'/>"
        b'<link rel="stylesheet" href="/style.css">'
        b"</head><body></body></html>"
    )
    df = spark.createDataFrame(
        [("https://ex.com/", bytearray(html)), ("https://empty.com/", None)],
        "url string, html binary",
    )
    out = sorted(
        (r.feed_url, r.feed_type) for r in discover_feeds(df).collect()
    )
    # relative hrefs resolve against the page url (fetchable output)
    assert out == [
        ("https://ex.com/atom", "atom"), ("https://ex.com/feed.xml", "rss")
    ]


def test_feed_seeds_dedup_newest(spark, feed_df):
    seeds = {r.url: r for r in feed_seeds(parse_feed(feed_df)).collect()}
    assert len(seeds) == 7
    s = seeds["https://ex.com/a"]
    assert (s.depth, s.priority) == (0, 0.7)
    assert s.published == datetime(2025, 5, 5, 10, 30)
    # duplicate advertisement keeps the newest timestamp
    dup = spark.createDataFrame(
        [
            ("f", "rss", "https://ex.com/a", "t", datetime(2025, 6, 1)),
            ("f", "rss", "https://ex.com/a", "t", datetime(2025, 1, 1)),
        ],
        "feed_url string, kind string, url string, title string, published timestamp",
    )
    out = feed_seeds(dup).collect()
    assert len(out) == 1 and out[0].published == datetime(2025, 6, 1)


def test_malformed_feed_yields_nothing(spark):
    df = spark.createDataFrame(
        [("u", "<html>not a feed</html>"), ("v", "")],
        "feed_url string, xml string",
    )
    assert parse_feed(df).count() == 0


def test_feed_seeds_drive_a_crawl_round(spark, fixture_dir, tables,
                                        tmp_path_factory):
    """Integration: feed-advertised urls (real fixture pages) become
    engine seeds — published timestamps ride along, the fresh-seed
    priority becomes the OPIC score, fetches succeed (the sitemap
    integration's freshness-channel twin)."""
    import os

    from metadata_crawler_spark.plans.round_loop import CrawlConfig, Crawler

    page_urls = [
        r["url"] for r in tables["pages"].select("url").limit(10).collect()
    ]
    items = "".join(
        f"<item><link>{u}</link>"
        f"<pubDate>Mon, 05 May 2025 10:30:00 +0000</pubDate></item>"
        for u in page_urls
    )
    xml = f"<rss><channel>{items}</channel></rss>"
    df = spark.createDataFrame([("f", xml)], "feed_url string, xml string")
    seeds = feed_seeds(parse_feed(df))
    assert seeds.count() == len(set(page_urls))
    assert {r.published for r in seeds.collect()} == {datetime(2025, 5, 5, 10, 30)}
    c = Crawler(
        spark=spark,
        pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"],
        hosts=tables["hosts"],
        checkpoint_dir=str(tmp_path_factory.mktemp("ckpt_feed")),
        config=CrawlConfig(n_shards=8),
    )
    results = c.run(seeds, rounds=1)
    assert results[0]["scheduled"] > 0
    assert results[0]["fetched"] > 0


def test_stream_feed_seeds_cross_batch_dedup(spark, tmp_path):
    """Feed polling as a standing query: the same urls re-advertised in
    a later poll do NOT re-seed (watermark-bounded dedup state); new
    urls do. Batch parse exprs run unchanged on the stream."""
    import time

    from metadata_crawler_spark.streaming.feed_stream import (
        FEED_STREAM_SCHEMA,
        stream_feed_seeds,
    )

    in_dir = str(tmp_path / "feed_drops")
    ck = str(tmp_path / "ck")

    def xml(urls):
        items = "".join(
            f"<item><link>{u}</link>"
            f"<pubDate>Mon, 05 May 2025 10:30:00 +0000</pubDate></item>"
            for u in urls
        )
        return f"<rss><channel>{items}</channel></rss>"

    t0 = datetime(2025, 5, 5, 12, 0)
    spark.createDataFrame(
        [("f", t0, xml(["https://ex.com/a", "https://ex.com/b"]))],
        FEED_STREAM_SCHEMA,
    ).write.mode("append").parquet(in_dir)
    q = stream_feed_seeds(spark, in_dir, ck, query_name="feed_seeds_t")
    try:
        q.processAllAvailable()
        first = spark.sql("SELECT * FROM feed_seeds_t").collect()
        assert sorted(r.url for r in first) == [
            "https://ex.com/a", "https://ex.com/b"
        ]
        assert all(r.priority == 0.7 and r.depth == 0 for r in first)
        assert all(r.published == datetime(2025, 5, 5, 10, 30) for r in first)
        # second poll re-advertises a+b (dup) and adds c (new)
        spark.createDataFrame(
            [("f", datetime(2025, 5, 5, 12, 30),
              xml(["https://ex.com/a", "https://ex.com/b", "https://ex.com/c"]))],
            FEED_STREAM_SCHEMA,
        ).write.mode("append").parquet(in_dir)
        q.processAllAvailable()
        time.sleep(0.2)
        urls = [r.url for r in spark.sql("SELECT * FROM feed_seeds_t").collect()]
        assert sorted(urls) == [
            "https://ex.com/a", "https://ex.com/b", "https://ex.com/c"
        ], urls  # a/b seeded exactly once across both polls
    finally:
        q.stop()


def test_rfc822_two_digit_years_rfc2822_window(spark):
    """ADVICE r5: two-digit years follow the RFC 2822 obsolete-date
    rule — 50-99 resolve to 19xx (Java 'yy' alone would say 2099),
    00-49 to 20xx; the zone-less two-digit-year seconds rung parses."""
    xml = """<?xml version="1.0"?><rss><channel>
      <item><title>old</title><link>https://ex.com/y99</link>
        <pubDate>Fri, 31 Dec 99 12:00:00 +0000</pubDate></item>
      <item><title>new</title><link>https://ex.com/y05</link>
        <pubDate>Mon, 03 Jan 05 08:00:00 +0000</pubDate></item>
      <item><title>zoneless seconds</title><link>https://ex.com/y98</link>
        <pubDate>01 Feb 98 09:30:15</pubDate></item>
    </channel></rss>"""
    df = spark.createDataFrame([("https://ex.com/feed", xml)],
                               ["feed_url", "xml"])
    rows = {r["url"]: r["published"] for r in parse_feed(df).collect()}
    assert rows["https://ex.com/y99"].year == 1999
    assert rows["https://ex.com/y05"].year == 2005
    got = rows["https://ex.com/y98"]
    assert (got.year, got.month, got.second) == (1998, 2, 15)
