"""Structured-Streaming tests: micro-batch frontier rounds via foreachBatch,
watermarked windowed rollup vs the batch oracle, and cross-batch stateful
politeness (applyInPandasWithState)."""

from __future__ import annotations

import os
import time

import pyspark.sql.functions as F
import pytest

from metadata_crawler_spark.streaming.micro_batch import (
    politeness_gate_stateful,
    stream_frontier_rounds,
    stream_hourly_rollup,
)

EVENTS_SCHEMA = (
    "event_id long, ts timestamp_ntz, user_id long, event_type string, "
    "value double, props string"
)


def test_stream_hourly_rollup_matches_batch(spark, tmp_path):
    src = str(tmp_path / "events_in")
    os.makedirs(src)
    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    events.write.mode("overwrite").parquet(src)
    q = stream_hourly_rollup(spark, src, EVENTS_SCHEMA, query_name="roll_t")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    # append mode only emits windows the watermark has closed; compare those
    got = spark.sql("SELECT * FROM roll_t")
    batch = (
        events.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.unix_millis(F.date_trunc("hour", "ts")).alias("hour_ms"), "event_type")
        .agg(F.count("*").alias("n_events"))
    )
    merged = got.join(batch, ["hour_ms", "event_type"], "inner").filter(
        got["n_events"] != batch["n_events"]
    )
    assert merged.count() == 0
    assert got.count() > 0


def test_stream_frontier_rounds(spark, tables, tmp_path):
    src = str(tmp_path / "frontier_in")
    out = str(tmp_path / "sched_out")
    ck = str(tmp_path / "stream_ck")
    os.makedirs(src)
    seeds = tables["seeds"].select(
        "url", F.col("depth").cast("int").alias("depth"),
        F.col("priority").cast("double").alias("score"),
    )
    seeds.write.mode("overwrite").parquet(src)
    q = stream_frontier_rounds(
        spark, src, tables["robots"], tables["hosts"], out, ck, "fr_t"
    )
    try:
        q.processAllAvailable()
        # second delta lands -> second micro-batch
        seeds.withColumn("url", F.concat(F.lit("https://h0.example.com/x/"), F.md5("url"))).write.mode(
            "append"
        ).parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    epochs = sorted(os.listdir(out))
    assert len([e for e in epochs if e.startswith("epoch=")]) >= 2
    sched = spark.read.parquet(os.path.join(out, epochs[0]))
    assert sched.count() > 0
    assert {"url", "host", "rank", "fetch_offset_ms"} <= set(sched.columns)


def test_stateful_politeness_across_batches(spark, tmp_path):
    """The same host throttled in batch 1 must stay throttled in batch 2:
    planned starts keep increasing across micro-batches."""
    src = str(tmp_path / "purls")
    os.makedirs(src)
    rows1 = [("h1", f"https://h1/x{i}", 1000, 500) for i in range(3)]
    df = spark.createDataFrame(
        rows1, "host string, url string, arrival_ms long, crawl_delay_ms long"
    )
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "host string, url string, arrival_ms long, crawl_delay_ms long"
    ).parquet(src)
    out = politeness_gate_stateful(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("polite_t")
        .start()
    )
    try:
        q.processAllAvailable()
        batch1 = spark.sql("SELECT * FROM polite_t").collect()
        rows2 = [("h1", f"https://h1/y{i}", 1000, 500) for i in range(2)]
        spark.createDataFrame(
            rows2, "host string, url string, arrival_ms long, crawl_delay_ms long"
        ).write.mode("append").parquet(src)
        q.processAllAvailable()
        batch_all = spark.sql("SELECT * FROM polite_t ORDER BY planned_start_ms").collect()
    finally:
        q.stop()
    starts1 = sorted(r.planned_start_ms for r in batch1)
    assert starts1 == [1000, 1500, 2000]  # rank * crawl_delay within batch
    starts_all = [r.planned_start_ms for r in batch_all]
    # batch 2 URLs must start AFTER batch 1's next_free (2500), not at 1000
    assert starts_all == [1000, 1500, 2000, 2500, 3000]


def test_stream_is_incremental_not_restart(spark, tables, tmp_path):
    """Checkpointed restart resumes from the offset log: re-starting the
    frontier stream with no new files produces no new epochs."""
    src = str(tmp_path / "fin2")
    out = str(tmp_path / "sout2")
    ck = str(tmp_path / "sck2")
    os.makedirs(src)
    tables["seeds"].select(
        "url", F.col("depth").cast("int").alias("depth"),
        F.col("priority").cast("double").alias("score"),
    ).write.mode("overwrite").parquet(src)
    for _ in range(2):
        q = stream_frontier_rounds(
            spark, src, tables["robots"], tables["hosts"], out, ck, "fr_r"
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        time.sleep(0.2)
    epochs = [e for e in os.listdir(out) if e.startswith("epoch=")]
    assert len(epochs) == 1


def test_stream_crawl_rounds_cross_batch_seen(spark, tmp_path):
    """A URL scheduled in epoch 0 must NOT be re-scheduled in epoch 1 even
    when it is re-discovered (the reference's whole-crawl unique-index
    semantics); genuinely-new URLs in epoch 1 still schedule."""
    from metadata_crawler_spark.streaming.micro_batch import stream_crawl_rounds

    src = str(tmp_path / "frontier_in")
    out = str(tmp_path / "sched_out")
    ck = str(tmp_path / "ck")
    os.makedirs(src)
    robots = spark.createDataFrame(
        [("a.com", [], 0)], "host string, disallow array<string>, crawl_delay_ms long"
    )
    hosts = spark.createDataFrame([("a.com", 100)], "host string, budget int")

    batch0 = spark.createDataFrame(
        [(f"https://a.com/p{i}", 0, 1.0) for i in range(10)],
        "url string, depth int, score double",
    )
    batch0.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b0"))
    q = stream_crawl_rounds(spark, src + "/*", robots, hosts, out, ck)
    try:
        q.processAllAvailable()
        # epoch 1: re-discover p0-p9 plus 5 new urls
        batch1 = spark.createDataFrame(
            [(f"https://a.com/p{i}", 1, 0.5) for i in range(15)],
            "url string, depth int, score double",
        )
        batch1.coalesce(1).write.mode("overwrite").parquet(os.path.join(src, "b1"))
        q.processAllAvailable()
    finally:
        q.stop()
    epochs = sorted(d for d in os.listdir(out) if d.startswith("epoch="))
    assert len(epochs) == 2
    e0 = {r.url for r in spark.read.parquet(os.path.join(out, epochs[0])).collect()}
    e1 = {r.url for r in spark.read.parquet(os.path.join(out, epochs[1])).collect()}
    assert e0 == {f"https://a.com/p{i}" for i in range(10)}
    assert e1 == {f"https://a.com/p{i}" for i in range(10, 15)}  # only the new


def test_stream_rounds_schedule_like_crawler(spark, fixture_dir, tables, tmp_path):
    """Epoch 0 of both streaming variants schedules exactly what round 0
    of a Crawler schedules from the same seeds — same urls, ranks and
    politeness offsets — at a salt_parts the Crawler does not use (the
    top-k is invariant to it)."""
    from metadata_crawler_spark.plans.round_loop import CrawlConfig, Crawler
    from metadata_crawler_spark.streaming.micro_batch import stream_crawl_rounds

    cols = ["url", "rank", "fetch_offset_ms"]
    crawl_ck = str(tmp_path / "crawl_ck")
    Crawler(
        spark=spark, pages_path=os.path.join(fixture_dir, "pages.parquet"),
        robots=tables["robots"], hosts=tables["hosts"],
        checkpoint_dir=crawl_ck,
        config=CrawlConfig(n_shards=8, bloom_expected_per_shard=4096,
                           salt_parts=4),
    ).run(tables["seeds"], rounds=1)
    want = sorted(spark.read.parquet(
        os.path.join(crawl_ck, "round=00000", "scheduled")
    ).select(cols).collect())
    assert want

    src = str(tmp_path / "frontier_in")
    tables["seeds"].select(
        "url", F.col("depth").cast("int").alias("depth"),
        F.col("priority").cast("double").alias("score"),
    ).write.parquet(src)
    for name, start in (
        ("parity_fr", stream_frontier_rounds),
        ("parity_cr", stream_crawl_rounds),
    ):
        out = str(tmp_path / f"{name}_out")
        q = start(
            spark, src, tables["robots"], tables["hosts"], out,
            str(tmp_path / f"{name}_ck"), name, salt_parts=8,
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        got = sorted(spark.read.parquet(
            os.path.join(out, "epoch=00000")
        ).select(cols).collect())
        assert got == want, name


def test_stream_document_scores_parity_and_dedup(spark, tmp_path):
    """Streaming corpus scoring (r5): two document deltas with an
    overlapping doc_id stream through watermarked dedup + stateless
    scoring; every surviving row's gopher flag and classifier score
    equals the batch pipeline's output on the same rows (same operators,
    zero code fork)."""
    from datetime import datetime as dt

    from metadata_crawler_spark.functions.quality import (
        train_quality_classifier,
    )
    from metadata_crawler_spark.streaming.corpus_stream import (
        DOC_STREAM_SCHEMA,
        score_documents,
        stream_document_scores,
    )

    good = ("the quick report describes results and methods that have "
            "been written with clear prose " +
            " ".join(f"word{i}" for i in range(45)))
    spam = "buy " + " ".join(f"pill{j} now{j} click{j}" for j in range(20))
    t0 = dt(2026, 5, 1, 12, 0, 0)
    batch1 = [(1, "https://a/1", t0, good), (2, "https://a/2", t0, spam)]
    batch2 = [(2, "https://a/2", t0, spam),          # duplicate doc_id
              (3, "https://a/3", t0, good + " extra")]

    B = 1 << 12
    train = spark.createDataFrame(
        [(0, good, 1), (1, spam, 0), (2, good + " x", 1), (3, spam + " y", 0)],
        "doc_id long, text string, label int",
    )
    weights, _ = train_quality_classifier(train, "text", "label", n_buckets=B)

    in_dir, ck = str(tmp_path / "in"), str(tmp_path / "ck")
    spark.createDataFrame(batch1, DOC_STREAM_SCHEMA).write.mode(
        "append"
    ).parquet(in_dir)
    q = stream_document_scores(
        spark, in_dir, ck, clf_weights=weights, clf_n_buckets=B,
        query_name="doc_scores_t",
    )
    try:
        q.processAllAvailable()
        spark.createDataFrame(batch2, DOC_STREAM_SCHEMA).write.mode(
            "append"
        ).parquet(in_dir)
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc_id"]: r for r in
           spark.sql("select * from doc_scores_t").collect()}
    assert set(got) == {1, 2, 3}  # duplicate doc 2 deduped across batches

    batch_rows = {
        r["doc_id"]: r
        for r in score_documents(
            spark.createDataFrame(batch1 + batch2[1:], DOC_STREAM_SCHEMA),
            weights, B,
        ).collect()
    }
    for i in (1, 2, 3):
        assert got[i]["gopher_flagged"] == batch_rows[i]["gopher"]["flagged"]
        assert abs(got[i]["clf_score"] - batch_rows[i]["clf_score"]) < 1e-12
    assert got[1]["clf_score"] > 0.5 > got[2]["clf_score"]


def test_stateful_politeness_survives_null_delay(spark, tmp_path):
    """One NULL crawl_delay_ms/arrival_ms row must not terminate the
    stateful query (pandas hands the long column over as float64+NaN;
    raw int64 conversion raises): NULLs degrade to 0-delay/0-arrival
    and every row still gets a planned start."""
    src = str(tmp_path / "purls_null")
    os.makedirs(src)
    rows = [
        ("h1", "https://h1/a", 1000, 500),
        ("h1", "https://h1/b", None, None),
        ("h2", "https://h2/a", None, 250),
    ]
    df = spark.createDataFrame(
        rows, "host string, url string, arrival_ms long, crawl_delay_ms long"
    )
    df.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(
        "host string, url string, arrival_ms long, crawl_delay_ms long"
    ).parquet(src)
    out = politeness_gate_stateful(stream)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("polite_null")
        .start()
    )
    try:
        q.processAllAvailable()
        got = {r.url: r.planned_start_ms
               for r in spark.sql("SELECT * FROM polite_null").collect()}
    finally:
        q.stop()
    assert set(got) == {"https://h1/a", "https://h1/b", "https://h2/a"}
    assert all(v is not None and v >= 0 for v in got.values())
