"""Batched-HTTP index sink vs a stdlib http.server fixture (VERDICT r3
item 5): batch sizes, bounded concurrency, single end commit, retry on
5xx, idempotent re-push."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest

from metadata_crawler_spark.sources.http_sink import http_index_sink


class _IndexServer:
    """In-memory 'Solr core': id-keyed upsert store + batch/commit log."""

    def __init__(self, fail_first: int = 0, key: str = "id"):
        self.lock = threading.Lock()
        self.key = key
        self.store: dict = {}
        self.batch_sizes: list[int] = []
        self.commits: list[int] = []  # store size at each commit
        self.fail_remaining = fail_first
        self.n_requests = 0
        self.n_gzip = 0
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def do_POST(self):  # noqa: N802
                body = self.rfile.read(int(self.headers["Content-Length"]))
                if self.headers.get("Content-Encoding") == "gzip":
                    import gzip

                    body = gzip.decompress(body)
                    with outer.lock:
                        outer.n_gzip += 1
                with outer.lock:
                    outer.n_requests += 1
                    if "commit=true" in self.path:
                        outer.commits.append(len(outer.store))
                    else:
                        if outer.fail_remaining > 0:
                            outer.fail_remaining -= 1
                            self.send_response(503)
                            self.end_headers()
                            return
                        recs = json.loads(body)
                        outer.batch_sizes.append(len(recs))
                        for r in recs:
                            outer.store[r[outer.key]] = r
                self.send_response(200)
                self.end_headers()
                self.wfile.write(b"{}")

            def log_message(self, *a):  # quiet
                pass

        self.httpd = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
        self.url = f"http://127.0.0.1:{self.httpd.server_port}/update"
        self.thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self.thread.start()

    def stop(self):
        self.httpd.shutdown()
        self.httpd.server_close()


@pytest.fixture()
def server():
    s = _IndexServer()
    yield s
    s.stop()


def _docs(spark, n=2500):
    return spark.range(n).selectExpr(
        "id", "concat('https://h', id % 7, '.com/', id) AS url",
        "cast(id % 5 as string) AS lang"
    )


def test_http_sink_e2e(spark, server):
    df = _docs(spark).repartition(4)
    res = http_index_sink(df, server.url, id_col="id", batch_rows=300,
                          max_in_flight=3)
    assert res == {"rows": 2500, "committed": True}
    assert len(server.store) == 2500
    # server-side record content survives the round trip
    assert server.store[7]["url"] == "https://h0.com/7"
    assert all(b <= 300 for b in server.batch_sizes)
    # exactly one commit, and it observed the COMPLETE index (commit is
    # posted only after every partition's job finished)
    assert server.commits == [2500]


def test_http_sink_idempotent_repush(spark, server):
    df = _docs(spark, 800).repartition(3)
    http_index_sink(df, server.url, id_col="id", batch_rows=100)
    http_index_sink(df, server.url, id_col="id", batch_rows=100)
    assert len(server.store) == 800  # id-keyed upsert: re-push converges
    assert server.commits == [800, 800]


def test_http_sink_retries_5xx(spark):
    s = _IndexServer(fail_first=3)
    try:
        df = _docs(spark, 400).coalesce(1)
        http_index_sink(df, s.url, id_col="id", batch_rows=200,
                        max_in_flight=2, retries=4, backoff_s=0.01)
        assert len(s.store) == 400  # all rows landed despite 503 bursts
        assert s.n_requests > 3  # the failed attempts really happened
    finally:
        s.stop()


def test_http_sink_fails_after_retry_budget(spark):
    s = _IndexServer(fail_first=10**6)
    try:
        df = _docs(spark, 50).coalesce(1)
        with pytest.raises(Exception, match="(?i)failed|aborted|POST"):
            http_index_sink(df, s.url, id_col="id", batch_rows=50,
                            retries=1, backoff_s=0.01)
        assert len(s.store) == 0
    finally:
        s.stop()


def test_http_sink_requires_id(spark):
    with pytest.raises(ValueError, match="id_col"):
        http_index_sink(_docs(spark).drop("id"), "http://x/", id_col="id")


def test_http_sink_catalogue_integration(spark, tmp_path):
    """Catalogue -> HTTP index: the stage-2 flagship path with a live
    push sink instead of a file sink (run.py:137-254 analog)."""
    server = _IndexServer()
    try:
        df = _docs(spark, 600)
        df.write.parquet(str(tmp_path / "catalogue"))
        cat = spark.read.parquet(str(tmp_path / "catalogue"))
        res = http_index_sink(cat, server.url, id_col="url", batch_rows=128)
        assert res["rows"] == 600
        assert len(server.store) == 600
        assert server.commits == [600]
    finally:
        server.stop()


def test_push_catalogue_dual_index(spark, tmp_path):
    """files + latest dual-core push (reference's dual put): latest must
    carry exactly one record per url (the newest), files all of them."""
    from metadata_crawler_spark.sources.http_sink import push_catalogue
    from metadata_crawler_spark.sources.tables import (
        ManifestLog,
        write_round_table,
    )

    ck = str(tmp_path / "ck")
    state = {"last_round": 1}
    for rnd in (0, 1):
        df = spark.range(40).selectExpr(
            "concat('https://c.com/', id % 20) AS url",
            f"timestamp'2026-01-0{rnd + 1} 00:00:00' AS warc_ts",
            "true AS fetched",
            "concat('body', id) AS text",
        )
        write_round_table(df, ck, rnd, "fetched", state)
    ManifestLog(ck).commit(state)
    files_srv = _IndexServer(key="url")
    latest_srv = _IndexServer(key="url")
    try:
        res = push_catalogue(
            spark, ck, 1, files_srv.url, latest_srv.url, id_col="url",
            batch_rows=16,
        )
        assert res["files"]["rows"] == 80 and res["latest"]["rows"] == 20
        assert len(files_srv.store) == 20  # id-keyed: 20 distinct urls
        assert len(latest_srv.store) == 20
        # latest carries only day-2 records
        assert all(
            "2026-01-02" in r["warc_ts"] for r in latest_srv.store.values()
        )
        assert files_srv.commits[-1] == 20 and latest_srv.commits == [20]
    finally:
        files_srv.stop()
        latest_srv.stop()


def test_http_index_stream_foreachbatch(spark, tmp_path):
    """Streaming push: micro-batches flow through the same sink with a
    commit per epoch."""
    from metadata_crawler_spark.sources.http_sink import http_index_stream

    src = str(tmp_path / "src")
    _docs(spark, 300).write.parquet(src)
    server = _IndexServer()
    try:
        stream = (
            spark.readStream.schema("id long, url string, lang string")
            .parquet(src)
        )
        q = (
            http_index_stream(stream, server.url, id_col="id", batch_rows=64)
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert len(server.store) == 300
        assert len(server.commits) >= 1 and server.commits[-1] == 300
    finally:
        server.stop()


def test_http_sink_gzip_body(spark, server):
    """gzip_body=True: payloads arrive Content-Encoding: gzip and decode
    to the same records."""
    df = _docs(spark, 500).repartition(2)
    res = http_index_sink(df, server.url, id_col="id", batch_rows=100,
                          gzip_body=True)
    assert res["rows"] == 500
    assert len(server.store) == 500
    assert server.n_gzip >= 5  # every data batch was compressed
    assert server.store[42]["url"] == "https://h0.com/42"
