"""Stage-2 tests: catalogue -> partitioned index write with descriptor,
latest/files dual-index semantics, facet deletes (reference:
tests/test_ingest.py + test_catalogue_reader.py shapes)."""

from __future__ import annotations

import json
import os

import pyspark.sql.functions as F
import pytest

from metadata_crawler_spark.plans.round_loop import CrawlConfig, Crawler
from metadata_crawler_spark.sources.sinks import (
    delete_by_facets,
    glob_to_regex,
    index_catalogue,
    latest_view,
    read_catalogue,
)


@pytest.fixture(scope="module")
def crawled(spark, fixture_dir, tables, tmp_path_factory):
    ck = str(tmp_path_factory.mktemp("ck_sink"))
    c = Crawler(
        spark=spark,
        pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"],
        hosts=tables["hosts"],
        checkpoint_dir=ck,
        config=CrawlConfig(n_shards=8),
    )
    c.run(tables["seeds"], rounds=2)
    return ck


def test_index_catalogue(spark, crawled, tmp_path):
    out = str(tmp_path / "index_out")
    desc = index_catalogue(spark, crawled, 1, out, partition_by="lang")
    assert desc["counts"]["files"] >= desc["counts"]["latest"] > 0
    assert os.path.exists(os.path.join(out, "catalogue.json"))
    files = spark.read.parquet(os.path.join(out, "files"))
    latest = spark.read.parquet(os.path.join(out, "latest"))
    assert files.count() == desc["counts"]["files"]
    # latest: one row per url, all fetched
    assert latest.groupBy("url").count().filter(F.col("count") > 1).count() == 0
    # partition pruning works on the facet dir layout
    langs = [d for d in os.listdir(os.path.join(out, "files")) if d.startswith("lang=")]
    assert len(langs) >= 2
    # descriptor schema matches what reads back
    assert json.loads(json.dumps(desc["schema"]))["type"] == "struct"


def test_index_catalogue_counts_ride_the_writes(
    spark, crawled, tmp_path, monkeypatch
):
    """The descriptor's counts are the rows the two index writes wrote,
    observed on those writes: no job runs after the second write."""
    from pyspark.sql.readwriter import DataFrameWriter

    sc = spark.sparkContext
    group = "index_catalogue_jobs"
    after_write: list[set] = []
    save = DataFrameWriter.save

    def tracked_save(self, *args, **kwargs):
        save(self, *args, **kwargs)
        after_write.append(set(sc.statusTracker().getJobIdsForGroup(group)))

    monkeypatch.setattr(DataFrameWriter, "save", tracked_save)
    out = str(tmp_path / "index_out")
    sc.setJobGroup(group, "index_catalogue")
    try:
        desc = index_catalogue(spark, crawled, 1, out)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(after_write) == 2
    assert set(sc.statusTracker().getJobIdsForGroup(group)) == after_write[-1]
    monkeypatch.undo()
    assert desc["counts"] == {
        name: spark.read.parquet(os.path.join(out, name)).count()
        for name in ("files", "latest")
    }


def test_latest_vs_files_semantics(spark, crawled):
    files = read_catalogue(spark, crawled, 1)
    latest = latest_view(files)
    j = files.filter(F.col("fetched")).alias("f").join(
        latest.alias("l"), "url"
    )
    newer = j.filter(F.col("f.warc_ts") > F.col("l.warc_ts")).count()
    assert newer == 0  # nothing in files is newer than its latest row


def test_catalogue_refuses_uncommitted_round(spark, tmp_path):
    """Catalogue reads stop at the manifest's last committed round: a
    round that crashed after writing `fetched` but before its manifest
    flip left an orphan table that must not read as committed data —
    through read_catalogue, index_catalogue and push_catalogue."""
    from metadata_crawler_spark.sources.http_sink import push_catalogue
    from metadata_crawler_spark.sources.tables import (
        ManifestLog,
        write_round_table,
    )

    ck = str(tmp_path / "ck")
    state = {"last_round": 0}
    for rnd, n in ((0, 30), (1, 7)):  # round 1 is the crashed orphan
        write_round_table(
            spark.range(n).selectExpr(
                f"concat('https://r{rnd}.com/', id) AS url",
                "true AS fetched",
                "'en' AS lang",
            ),
            ck, rnd, "fetched", state,
        )
    ManifestLog(ck).commit(state)
    assert read_catalogue(spark, ck, 0).count() == 30
    with pytest.raises(ValueError, match="not committed"):
        read_catalogue(spark, ck, 1)
    with pytest.raises(ValueError, match="not committed"):
        index_catalogue(spark, ck, 1, str(tmp_path / "out"))
    assert not os.path.exists(tmp_path / "out" / "files")
    with pytest.raises(ValueError, match="not committed"):
        push_catalogue(spark, ck, 1, "http://127.0.0.1:9/update")


def test_glob_to_regex_and_delete(spark):
    assert glob_to_regex("e*") == "^e.*$"
    assert glob_to_regex("a?c") == "^a.c$"
    df = spark.createDataFrame(
        [("en", "s1"), ("es", "s2"), ("de", "s1"), ("fr", "s2")],
        "lang string, src string",
    )
    out = delete_by_facets(df, {"lang": "e*", "src": "s1"})
    kept = sorted((r.lang, r.src) for r in out.collect())
    # only rows matching BOTH globs are deleted -> (en,s1) removed
    assert kept == [("de", "s1"), ("es", "s2"), ("fr", "s2")]
    # no facets -> no-op
    assert delete_by_facets(df, {}).count() == 4


def test_jdbc_option_builders():
    """S9/S10 source shapes: pure option builders (connector jars are the
    only cluster-side difference)."""
    import pytest

    from metadata_crawler_spark.sources.jdbc import mongo_options, postgres_options

    opts = postgres_options(
        "pg.internal", "meta", "catalogue", "crawler", password="s",
        partition_column="id", lower=0, upper=1_000_000, num_partitions=16,
    )
    assert opts["url"] == "jdbc:postgresql://pg.internal:5432/meta"
    assert opts["partitionColumn"] == "id"
    assert opts["numPartitions"] == "16"
    assert opts["lowerBound"] == "0" and opts["upperBound"] == "1000000"
    with pytest.raises(ValueError):
        postgres_options("h", "d", "t", "u", partition_column="id")
    m = mongo_options("mongodb://m:27017", "meta", "catalogue")
    assert m["database"] == "meta" and m["collection"] == "catalogue"
