"""Manifest/table layer: atomic commit, torn-write tolerance, round reads."""

from __future__ import annotations

import json
import os

import pytest

from metadata_crawler_spark.sources.tables import ManifestLog, read_rounds, write_round_table


def test_manifest_roundtrip(tmp_path):
    log = ManifestLog(str(tmp_path))
    assert log.read() is None
    log.commit({"last_round": 0, "x": 1})
    st = log.read()
    assert st["last_round"] == 0 and "committed_at" in st


def test_torn_tmp_file_invisible(tmp_path):
    log = ManifestLog(str(tmp_path))
    log.commit({"last_round": 3})
    # a crashed writer leaves a partial tmp file — readers never see it
    with open(log.path + ".tmp", "w") as fh:
        fh.write('{"last_round": 99, "TRUNCATED')
    assert log.read()["last_round"] == 3


def test_commit_overwrites_atomically(tmp_path):
    log = ManifestLog(str(tmp_path))
    for i in range(5):
        log.commit({"last_round": i})
        assert log.read()["last_round"] == i


def test_manifest_on_file_uri_from_other_cwd(tmp_path, monkeypatch):
    """A file:// root commits to its local path, not to a path relative to
    the working directory."""
    elsewhere = tmp_path / "elsewhere"
    elsewhere.mkdir()
    monkeypatch.chdir(elsewhere)
    ck = tmp_path / "ck"
    ManifestLog(f"file://{ck}").commit({"last_round": 4})
    assert os.listdir(elsewhere) == []
    assert ManifestLog(str(ck)).read()["last_round"] == 4
    assert ManifestLog(f"file://{ck}").read()["last_round"] == 4


def test_manifest_rejects_remote_root(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    for root in ("s3a://bucket/ck", "hdfs://nn:8020/ck"):
        with pytest.raises(ValueError, match="file://"):
            ManifestLog(root)
    assert os.listdir(tmp_path) == []


def test_round_tables(spark, tmp_path):
    """read_rounds reads exactly the rounds it is given; it never probes,
    so a listed table that has gone missing fails the read."""
    from pyspark.errors import AnalysisException

    df = spark.range(10).toDF("id")
    root = str(tmp_path)
    state: dict = {}
    write_round_table(df, root, 0, "t", state)
    write_round_table(df, root, 1, "t", state)
    both = read_rounds(spark, root, "t", [0, 1], state)
    assert both.count() == 20
    only0 = read_rounds(spark, root, "t", [0], state)
    assert only0.count() == 10
    with pytest.raises(AnalysisException, match="round=00002/t"):
        read_rounds(spark, root, "t", [0, 1, 2], state)


def test_read_rounds_uses_the_recorded_schema(spark, tmp_path):
    """A write records its table's schema in the manifest state; the
    read uses it (no footer job while planning), and a state that
    records none fails the read instead of inferring one."""
    df = spark.range(5).selectExpr("id", "cast(id AS int) AS i")
    root = str(tmp_path)
    state: dict = {}
    write_round_table(df, root, 0, "t", state)
    assert list(state["schemas"]) == ["t"]
    sc = spark.sparkContext
    group = "test_read_rounds_plan"
    sc.setJobGroup(group, "plan a recorded-schema read")
    try:
        got = read_rounds(spark, root, "t", [0], state)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert [(f.name, f.dataType.simpleString()) for f in got.schema] == [
        ("id", "bigint"), ("i", "int"),
    ]
    assert sorted(r.i for r in got.collect()) == [0, 1, 2, 3, 4]
    with pytest.raises(ValueError, match="no schema for table 't'"):
        read_rounds(spark, root, "t", [0], {"schemas": {"u": {}}})
    with pytest.raises(ValueError, match="no schema"):
        read_rounds(spark, root, "t", [0], {})
