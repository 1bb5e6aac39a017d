"""crawl_report / host_report: the crawl-side release tables (plans/
corpus_report.py). Verifies hand-counted slices from committed round
tables (round derived from the round=NNNNN path), rate math, plan shape
(one Expand, no corpus rescan), and host top-k determinism."""

from __future__ import annotations

import pytest

from metadata_crawler_spark.plans.corpus_report import crawl_report, host_report
from metadata_crawler_spark.sources.tables import read_rounds, write_round_table

ROWS_R0 = [
    # url, host, depth, fetched, planned_ms, links, text
    ("u0", "a.com", 0, True, 10, ["x"], "body text"),
    ("u1", "a.com", 0, True, 20, ["x", "y"], "body"),
    ("u2", "b.com", 1, False, 0, [], None),
    ("u3", "b.com", 1, True, 5, [], "   "),  # fetched but empty text
]
ROWS_R1 = [
    ("u4", "a.com", 1, True, 7, [], "deep page"),
    ("u5", "c.com", 2, False, 0, None, None),  # NULL links
]
SCHEMA = (
    "url string, host string, depth int, fetched boolean, "
    "planned_ms long, links array<string>, text string"
)


@pytest.fixture(scope="module")
def fetched_rounds(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("crawlrep"))
    state: dict = {}
    write_round_table(
        spark.createDataFrame(ROWS_R0, SCHEMA), root, 0, "fetched", state
    )
    write_round_table(
        spark.createDataFrame(ROWS_R1, SCHEMA), root, 1, "fetched", state
    )
    return read_rounds(spark, root, "fetched", [0, 1], state)


def test_crawl_report_hand_counted(fetched_rounds):
    rep = crawl_report(fetched_rounds).collect()
    by_slice = {}
    for r in rep:
        key = (r["grouping_id"], r["round"], r["depth"])
        by_slice[key] = r
    overall = next(
        r for r in rep if r["round"] is None and r["depth"] is None
    )
    assert overall["n_scheduled"] == 6 and overall["n_fetched"] == 4
    assert overall["fetch_rate"] == round(4 / 6, 6)
    assert overall["mean_depth"] == round(5 / 6, 3)
    assert overall["max_depth"] == 2
    # one fetched-but-empty (u3) out of 4 fetched
    assert overall["empty_text_frac"] == 0.25
    assert overall["mean_outlinks"] == 0.5  # 1+2+0+0+0+0 over 6
    # per-round slices derived from the round=NNNNN path
    r0 = next(r for r in rep if r["round"] == 0)
    r1 = next(r for r in rep if r["round"] == 1)
    assert r0["n_scheduled"] == 4 and r1["n_scheduled"] == 2
    assert r1["n_fetched"] == 1 and r1["fetch_rate"] == 0.5
    # per-depth slices
    d1 = next(r for r in rep if r["depth"] == 1 and r["round"] is None)
    assert d1["n_scheduled"] == 3 and d1["n_fetched"] == 2
    # planned_ms percentile sketch: p50 of [10,20,0,5,7,0] is a data point
    assert overall["p_planned_ms"][1] in (0, 5, 7)
    # approx distinct hosts is exact at this cardinality
    assert overall["n_hosts_approx"] == 3


def test_crawl_report_explicit_round_col(spark):
    df = spark.createDataFrame(
        [(r, *row) for r, rows in ((0, ROWS_R0), (1, ROWS_R1)) for row in rows],
        "rnd int, " + SCHEMA,
    )
    rep = crawl_report(df, round_col="rnd").collect()
    r1 = next(r for r in rep if r["round"] == 1)
    assert r1["n_scheduled"] == 2 and r1["n_fetched"] == 1


def test_crawl_report_plan_one_expand(fetched_rounds):
    """ONE scan + ONE grouping-sets Expand; slices never rescan."""
    plan = (
        crawl_report(fetched_rounds)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Expand") == 1
    assert plan.count("Scan parquet") <= 1


def test_host_report_topk_deterministic(fetched_rounds):
    top = host_report(fetched_rounds, k=2).collect()
    assert [r["host"] for r in top] == ["a.com", "b.com"]
    a = top[0]
    assert a["n_scheduled"] == 3 and a["n_fetched"] == 3
    assert a["fetch_rate"] == 1.0 and a["max_planned_ms"] == 20
    # top-k is a heap (TakeOrderedAndProject), never a global sort
    plan = (
        host_report(fetched_rounds, k=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan


def test_crawl_report_rejects_pathless_input(spark):
    """round_col=None derives the round from the committed file path;
    a DataFrame with no round=NNNNN scan behind it must fail when the
    report runs, not silently report one round=NULL slice — and planning
    the report submits no probe job."""
    df = spark.createDataFrame(
        [("https://a/1", "h1", 0, True, 0, ["x"], "t")],
        "url string, host string, depth int, fetched boolean,"
        " planned_ms long, links array<string>, text string",
    )
    sc = spark.sparkContext
    sc.setJobGroup("crawl_report_plan", "plan only")
    try:
        rep = crawl_report(df)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("crawl_report_plan") == []
    with pytest.raises(Exception, match="not from a direct scan"):
        rep.collect()
