"""Sitemap ingestion + Common Crawl CDXJ index source (r5):
robots Sitemap: directives, urlset/sitemapindex parsing with entity
unescape and optional fields, the bounded cycle-safe sitemap walk, and
CDXJ round-trip into the index-planned frontier."""

from __future__ import annotations

import gzip

import pyspark.sql.functions as F

from metadata_crawler_spark.functions.sitemaps import (
    parse_sitemap,
    robots_sitemap_urls,
    sitemap_seeds,
    walk_sitemaps,
)
from metadata_crawler_spark.sources.cdx import (
    cdx_frontier,
    read_cdxj,
    render_cdxj,
)

NS = 'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9"'


def _urlset(entries: list[tuple]) -> str:
    body = "".join(
        "<url><loc>%s</loc>%s%s%s</url>"
        % (
            loc,
            f"<lastmod>{lm}</lastmod>" if lm else "",
            f"<changefreq>{cf}</changefreq>" if cf else "",
            f"<priority>{pr}</priority>" if pr else "",
        )
        for loc, lm, cf, pr in entries
    )
    return f'<?xml version="1.0"?><urlset {NS}>{body}</urlset>'


def _index(children: list[str]) -> str:
    body = "".join(
        f"<sitemap><loc>{c}</loc></sitemap>" for c in children
    )
    return f'<?xml version="1.0"?><sitemapindex {NS}>{body}</sitemapindex>'


def test_robots_sitemap_directives(spark):
    robots = spark.createDataFrame(
        [
            ("a.example",
             "User-agent: *\nDisallow: /x\n"
             "Sitemap: https://a.example/sitemap.xml\n"
             "sitemap:https://a.example/sm2.xml\n"),
            ("b.example", "User-agent: *\nAllow: /\n"),
        ],
        "host string, body string",
    )
    got = {(r["host"], r["sitemap_url"])
           for r in robots_sitemap_urls(robots).collect()}
    assert got == {
        ("a.example", "https://a.example/sitemap.xml"),
        ("a.example", "https://a.example/sm2.xml"),
    }


def test_parse_sitemap_fields_and_entities(spark):
    """Per-entry pairing must survive missing optional fields (a
    document-level xpath would zip lastmods against the wrong locs), and
    XML entities in locs decode."""
    xml = _urlset([
        ("https://a.example/p?x=1&amp;y=2", "2026-01-02", "daily", "0.8"),
        ("https://a.example/p2", None, None, None),
        ("https://a.example/p3", "2026-02-03T04:05:06Z", None, "0.1"),
    ])
    df = spark.createDataFrame([("sm", xml)], "sitemap_url string, xml string")
    leaves, children = parse_sitemap(df)
    assert children.count() == 0
    got = {r["url"]: r for r in leaves.collect()}
    assert set(got) == {
        "https://a.example/p?x=1&y=2", "https://a.example/p2",
        "https://a.example/p3",
    }
    r1 = got["https://a.example/p?x=1&y=2"]
    assert str(r1["lastmod"]).startswith("2026-01-02")
    assert r1["changefreq"] == "daily" and r1["priority"] == 0.8
    r2 = got["https://a.example/p2"]
    assert r2["lastmod"] is None and r2["priority"] is None
    assert str(got["https://a.example/p3"]["lastmod"]).startswith("2026-02-03")


def test_walk_sitemaps_index_recursion_and_cycle(spark):
    """sitemapindex -> child sitemaps -> leaves, with a cycle (child
    pointing back at the root index) fetched exactly once."""
    site = {
        "https://a.example/index.xml": _index([
            "https://a.example/sm-a.xml",
            "https://a.example/sm-b.xml",
        ]),
        "https://a.example/sm-a.xml": _urlset(
            [(f"https://a.example/a{i}", None, None, None) for i in range(3)]
        ),
        # sm-b is itself an index, and points BACK at the root (cycle)
        "https://a.example/sm-b.xml": _index([
            "https://a.example/sm-c.xml",
            "https://a.example/index.xml",
        ]),
        "https://a.example/sm-c.xml": _urlset(
            [("https://a.example/c0", "2026-03-01", None, "0.9")]
        ),
    }
    fetches: list[str] = []

    def fetch(urls_df):
        urls = [r["sitemap_url"] for r in urls_df.collect()]
        fetches.extend(urls)
        return spark.createDataFrame(
            [(u, site[u]) for u in urls], "sitemap_url string, xml string"
        )

    roots = spark.createDataFrame(
        [("https://a.example/index.xml",)], "sitemap_url string"
    )
    leaves = walk_sitemaps(spark, roots, fetch)
    urls = sorted(r["url"] for r in leaves.collect())
    assert urls == [
        "https://a.example/a0", "https://a.example/a1",
        "https://a.example/a2", "https://a.example/c0",
    ]
    assert sorted(fetches) == sorted(site)  # each sitemap fetched ONCE
    seeds = {r["url"]: r for r in sitemap_seeds(leaves).collect()}
    assert seeds["https://a.example/c0"]["priority"] == 0.9
    assert seeds["https://a.example/a0"]["priority"] == 0.5  # spec default
    assert all(r["depth"] == 0 for r in seeds.values())


def test_cdxj_roundtrip_and_frontier(spark, tmp_path):
    """CDXJ lines (plain + gzip, the CC shipping format) parse to the
    typed capture table; cdx_frontier picks the newest OK html capture
    per url with its WARC coordinates; malformed lines drop cleanly."""
    rows = [
        ("example,a)/p1", "20260101120000",
         {"url": "https://a.example/p1", "mime": "text/html",
          "status": "200", "digest": "D1", "length": "100",
          "offset": "0", "filename": "w1.warc.gz"}),
        ("example,a)/p1", "20260301120000",
         {"url": "https://a.example/p1", "mime": "text/html",
          "status": "200", "digest": "D2", "length": "120",
          "offset": "900", "filename": "w2.warc.gz"}),
        ("example,a)/p2", "20260102000000",
         {"url": "https://a.example/p2", "mime": "text/html",
          "status": "404", "digest": "D3", "length": "10",
          "offset": "50", "filename": "w1.warc.gz"}),
        ("example,a)/img", "20260102000000",
         {"url": "https://a.example/i.png", "mime": "image/png",
          "status": "200", "digest": "D4", "length": "99",
          "offset": "70", "filename": "w1.warc.gz"}),
    ]
    text = render_cdxj(rows) + "this line is garbage\n"
    (tmp_path / "part1.cdxj").write_text(text)
    (tmp_path / "part2.cdxj.gz").write_bytes(
        gzip.compress(render_cdxj([rows[2]]).encode())
    )
    cap = read_cdxj(spark, str(tmp_path))
    assert cap.count() == 5  # 4 + 1 gz duplicate; garbage dropped
    got = cap.where(F.col("urlkey") == "example,a)/p1").collect()
    assert all(r["warc_offset"] in (0, 900) for r in got)
    assert {str(r["capture_ts"])[:10] for r in got} == {
        "2026-01-01", "2026-03-01"
    }
    # malformed kept when asked
    assert read_cdxj(spark, str(tmp_path), keep_malformed=True).count() == 6

    fr = {r["url"]: r for r in cdx_frontier(cap).collect()}
    assert set(fr) == {"https://a.example/p1"}  # 404 + png filtered
    newest = fr["https://a.example/p1"]
    assert newest["digest"] == "D2" and newest["warc_offset"] == 900
    assert newest["warc_filename"] == "w2.warc.gz"
    assert newest["depth"] == 0 and newest["score"] == 1.0

def test_cdx_to_warc_range_read_end_to_end(spark, tmp_path):
    """The full Common Crawl loop: per-record-gzip-member .warc.gz
    segments + a CDXJ index of their (offset, length) coordinates ->
    read_warc_records fetches EXACTLY the indexed records (newest OK
    capture per url) into the pages shape — without a whole-segment
    scan. The same segments also stream-read in full via
    read_warc_segments (gzip members concatenate transparently)."""
    from datetime import datetime as dt

    from metadata_crawler_spark.sources.warc import (
        read_warc_records,
        read_warc_segments,
        render_warc_gz_members,
    )

    recs1 = [
        (f"https://a.example/p{i}", dt(2026, 1, 1 + i), f"<b1-{i}>".encode())
        for i in range(4)
    ]
    recs2 = [
        (f"https://b.example/q{i}", dt(2026, 2, 1 + i), f"<b2-{i}>".encode())
        for i in range(3)
    ]
    blob1, coords1 = render_warc_gz_members(recs1)
    blob2, coords2 = render_warc_gz_members(recs2)
    (tmp_path / "seg1.warc.gz").write_bytes(blob1)
    (tmp_path / "seg2.warc.gz").write_bytes(blob2)

    # index: every capture, status 200 html
    cdx_rows = []
    for fname, recs, coords in (
        ("seg1.warc.gz", recs1, coords1), ("seg2.warc.gz", recs2, coords2),
    ):
        for (url, ts, _html), (off, ln) in zip(recs, coords):
            cdx_rows.append((
                "k)/" + url.split("/")[-1], ts.strftime("%Y%m%d%H%M%S"),
                {"url": url, "mime": "text/html", "status": "200",
                 "digest": f"D{off}", "length": str(ln),
                 "offset": str(off), "filename": fname},
            ))
    (tmp_path / "index.cdxj").write_text(render_cdxj(cdx_rows))

    captures = read_cdxj(spark, str(tmp_path / "index.cdxj"))
    frontier = cdx_frontier(captures)
    pages = read_warc_records(
        spark, frontier, base_path=str(tmp_path) + "/"
    )
    got = {r["url"]: bytes(r["html"]) for r in pages.collect()}
    assert got == {u: h for u, _t, h in recs1 + recs2}

    # subset range read: only seg2's records, nothing from seg1 parsed
    sub = read_warc_records(
        spark,
        frontier.where(F.col("warc_filename") == "seg2.warc.gz"),
        base_path=str(tmp_path) + "/",
    )
    assert {r["url"] for r in sub.collect()} == {u for u, _t, _h in recs2}

    # the same segments full-scan identically via the streaming reader
    full = read_warc_segments(spark, str(tmp_path), glob="*.warc.gz")
    assert {(r["url"], bytes(r["html"])) for r in full.collect()} == {
        (u, h) for u, _t, h in recs1 + recs2
    }


def test_sitemap_seeds_drive_a_crawl_round(spark, fixture_dir, tables,
                                           tmp_path_factory):
    """Integration: sitemap-advertised urls (real fixture pages) walk
    into engine seeds and drive a full crawl round — sitemap priority
    becomes the OPIC seed score, fetches succeed."""
    import os

    from metadata_crawler_spark.plans.round_loop import CrawlConfig, Crawler

    page_urls = [
        r["url"] for r in tables["pages"].select("url").limit(12).collect()
    ]
    xml = _urlset([(u, None, None, "0.9") for u in page_urls])
    roots = spark.createDataFrame([("sm",)], "sitemap_url string")

    def fetch(urls_df):
        return spark.createDataFrame(
            [("sm", xml)], "sitemap_url string, xml string"
        )

    seeds = sitemap_seeds(walk_sitemaps(spark, roots, fetch))
    assert seeds.count() == len(set(page_urls))
    c = Crawler(
        spark=spark,
        pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"],
        hosts=tables["hosts"],
        checkpoint_dir=str(tmp_path_factory.mktemp("ckpt_sm")),
        config=CrawlConfig(n_shards=8),
    )
    results = c.run(seeds, rounds=1)
    assert results[0]["scheduled"] > 0
    assert results[0]["fetched"] > 0


def test_surt_key_expr_joins_cc_index(spark, tmp_path):
    """SURT urlkeys computed from engine URLs equi-join the CC index on
    its native key: hand-checked shapes plus an actual join against
    read_cdxj output."""
    from metadata_crawler_spark.sources.cdx import surt_key_expr

    df = spark.createDataFrame(
        [
            ("https://www.example.com/Path?b=2",),
            ("https://sub.a.example.org/x/y",),
            ("http://example.net/",),
            ("https://example.net",),  # canonical form adds the slash
        ],
        "url string",
    )
    got = [r["k"] for r in df.select(surt_key_expr("url").alias("k")).collect()]
    assert got == [
        "com,example)/path?b=2",
        "org,example,a,sub)/x/y",
        "net,example)/",
        "net,example)/",
    ]
    # join our urls against an index keyed by SURT
    lines = render_cdxj([
        ("com,example)/path?b=2", "20260101000000",
         {"url": "https://www.example.com/Path?b=2", "mime": "text/html",
          "status": "200", "digest": "D", "length": "9", "offset": "0",
          "filename": "w.warc.gz"}),
    ])
    (tmp_path / "i.cdxj").write_text(lines)
    idx = read_cdxj(spark, str(tmp_path / "i.cdxj"))
    hits = df.withColumn("urlkey", surt_key_expr("url")).join(idx, "urlkey")
    assert hits.count() == 1


def test_surt_key_sorts_query_params(spark):
    """cc-index urlkeys are built with the surt library, which sorts query
    args alphabetically — unsorted multi-param URLs must still produce the
    index's key or the equi-join silently misses those captures."""
    from metadata_crawler_spark.sources.cdx import surt_key_expr

    df = spark.createDataFrame(
        [
            ("https://example.com/p?b=2&a=1",),
            ("https://example.com/p?a=1&b=2",),  # already sorted: unchanged
            ("https://example.com/p?z=9&a=1&m=5",),
            ("https://example.com/p?",),  # empty query preserved
            ("https://example.com/p",),   # no query at all
        ],
        "url string",
    )
    got = [r["k"] for r in df.select(surt_key_expr("url").alias("k")).collect()]
    assert got == [
        "com,example)/p?a=1&b=2",
        "com,example)/p?a=1&b=2",
        "com,example)/p?a=1&m=5&z=9",
        "com,example)/p?",
        "com,example)/p",
    ]


def test_parse_sitemap_fractional_lastmod(spark):
    """W3C datetime allows fractional seconds (.000Z / .123456+00:00 —
    emitted by many generators); the fraction is stripped up front so
    the freshness hint parses instead of silently NULLing."""
    xml = _urlset([
        ("https://f.example/a", "2024-05-01T10:00:00.000Z", None, None),
        ("https://f.example/b", "2024-05-01T10:00:00.123456+02:00", None, None),
        ("https://f.example/c", "2024-05-01T10:00:00Z", None, None),
        ("https://f.example/d", "2024-05-01", None, None),
    ])
    df = spark.createDataFrame([("https://f.example/sm.xml", xml)],
                               ["sitemap_url", "xml"])
    leaves, _ = parse_sitemap(df)
    got = {r.url: r.lastmod for r in leaves.collect()}
    assert all(got[u] is not None for u in got), got
    assert got["https://f.example/a"] == got["https://f.example/c"]


def test_surt_key_keeps_nondefault_port(spark):
    """Canonicalization strips only DEFAULT ports, so :8080 reaches the
    SURT key and must be kept the way cc-index keys it — dropping it
    would silently equi-join the port-less host's captures."""
    from metadata_crawler_spark.sources.cdx import surt_key_expr

    df = spark.createDataFrame(
        [("https://example.com:8080/x",), ("https://example.com/x",)],
        "url string",
    )
    got = [r.k for r in df.select(surt_key_expr("url").alias("k")).collect()]
    assert got == ["com,example:8080)/x", "com,example)/x"]
