"""Dataset card: the one-pass corpus statistics report every released
pretraining dataset ships with (docs/tokens per language and domain,
length percentiles, quality-flag and PII rates).

Reference analog: the reference's status/summary display aggregates
per-run counters (utils/__init__.py:430-470 status table); a corpus
release needs the same numbers per (language x domain) slice, computed
from the data, not from run counters.

Plan shape — this is the design point: the report is ONE scan of the
corpus and ONE grouping-sets shuffle.

- every per-doc metric (token/char counts, heuristic lang-id, Gopher
  quality flags, PII counts) is a zero-shuffle column expression folded
  into the scan projection;
- the (overall), (lang), (lang, domain) slices come from ONE
  ``GROUPING SETS`` aggregation — Spark plans it as a single Expand +
  one partial-agg exchange, so adding slices multiplies rows inside the
  combiner, never rescans the corpus;
- length percentiles ride the same aggregation via ``percentile_approx``
  (t-digest-style sketch, mergeable map-side — exact percentiles would
  force a global sort per group).

At 100 TB that's: read once, shuffle only (group-key, sketch) rows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.quality import gopher_quality_flags, pii_counts
from ..functions.text import lang_id_expr, ws_token_count
from ..sources.tables import file_round

#: percentiles reported for the token-length distribution
REPORT_PERCENTILES = (0.1, 0.5, 0.9, 0.99)


def corpus_report(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str | None = None,
    domain_col: str | None = None,
    percentiles: tuple[float, ...] = REPORT_PERCENTILES,
    accuracy: int = 10_000,
) -> DataFrame:
    """The dataset card table. Slices: overall, per-language, and (when
    ``domain_col`` is given) per-(language, domain); the slice a row
    belongs to is readable from its NULL group columns plus
    ``grouping_id``. ``lang_col=None`` derives language with the
    zero-shuffle heuristic ``lang_id_expr``.

    Columns per slice: n_docs, n_tokens, n_chars, token percentiles
    (``p_tokens`` array, one entry per requested percentile),
    mean_tokens, flagged_frac (Gopher suite), pii_email_rate /
    pii_phone_rate (docs-with-PII fractions), empty_frac.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    lang = F.col(lang_col) if lang_col else lang_id_expr(text)
    emails, phones = pii_counts(text)
    g = gopher_quality_flags(text)
    proj = docs.select(
        lang.alias("lang"),
        *([F.col(domain_col).alias("domain")] if domain_col else []),
        ws_token_count(text).alias("n_tokens"),
        F.length(text).alias("n_chars"),
        g["flagged"].cast("int").alias("flagged"),
        (emails > 0).cast("int").alias("has_email"),
        (phones > 0).cast("int").alias("has_phone"),
        (F.trim(text) == "").cast("int").alias("is_empty"),
    )
    pct = F.array(*[F.lit(p) for p in percentiles])
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("n_tokens"),
        F.sum("n_chars").alias("n_chars"),
        F.percentile_approx("n_tokens", pct, F.lit(accuracy)).alias("p_tokens"),
        F.round(F.avg("n_tokens"), 3).alias("mean_tokens"),
        F.round(F.avg("flagged"), 6).alias("flagged_frac"),
        F.round(F.avg("has_email"), 6).alias("pii_email_rate"),
        F.round(F.avg("has_phone"), 6).alias("pii_phone_rate"),
        F.round(F.avg("is_empty"), 6).alias("empty_frac"),
    ]
    if domain_col:
        grouped = proj.groupingSets(
            [[], [F.col("lang")], [F.col("lang"), F.col("domain")]],
            "lang",
            "domain",
        )
    else:
        grouped = proj.groupingSets([[], [F.col("lang")]], "lang")
    out = grouped.agg(F.grouping_id().alias("grouping_id"), *aggs)
    order = ["grouping_id", "lang"] + (["domain"] if domain_col else [])
    return out.orderBy(*[F.asc_nulls_first(c) for c in order])


def crawl_report(
    fetched: DataFrame,
    round_col: str | None = None,
    percentiles: tuple[float, ...] = REPORT_PERCENTILES,
    accuracy: int = 10_000,
) -> DataFrame:
    """The crawl run's release table — the crawl-side twin of
    :func:`corpus_report`, computed from the committed ``fetched``
    per-round deltas (``sources.sinks.read_catalogue``: the rounds the
    manifest names, read by ``sources.tables.read_rounds``),
    not from run counters (the reference's status display aggregates
    in-memory counters, utils/__init__.py:430-470 — numbers that die
    with the process; this recomputes them from the data, so a resumed
    or audited crawl reports identically).

    Slices: (overall), (round), (depth), readable from NULL group
    columns + ``grouping_id``. ``round_col=None`` derives the round from
    the committed file path (``sources.tables.file_round``) — zero cost,
    no schema change, no probe job; input with no round table behind it
    fails when the report runs. Same plan contract as corpus_report: ONE
    scan, ONE grouping-sets Expand + partial-agg exchange; politeness-wall
    percentiles ride mergeable ``percentile_approx`` sketches; host
    cardinality is ``approx_count_distinct`` (a per-slice exact distinct
    would multiply the Expand by |hosts|).

    Columns per slice: n_scheduled, n_fetched, fetch_rate, n_hosts_approx,
    mean_depth, max_depth, p_planned_ms, mean_outlinks, empty_text_frac.
    """
    rnd = F.col(round_col) if round_col else file_round()
    fetched_i = F.col("fetched").cast("int")
    proj = fetched.select(
        rnd.alias("round"),
        F.col("depth"),
        F.col("host"),
        fetched_i.alias("ok"),
        F.col("planned_ms"),
        # NOT coalesce(size(...)): with legacy sizeOfNull semantics
        # (ANSI off — the Spark 3.x default) size(NULL) is -1, not NULL,
        # so the coalesce never fires and every unfetched row would
        # subtract 1 from the outlink sum on such a cluster
        F.when(F.col("links").isNull(), F.lit(0))
        .otherwise(F.size("links")).alias("n_links"),
        F.when(
            F.col("fetched") & (F.length(F.trim(F.coalesce("text", F.lit("")))) == 0),
            1,
        ).otherwise(0).alias("fetched_empty"),
    )
    pct = F.array(*[F.lit(p) for p in percentiles])
    aggs = [
        F.count(F.lit(1)).alias("n_scheduled"),
        F.sum("ok").alias("n_fetched"),
        F.round(F.avg("ok"), 6).alias("fetch_rate"),
        F.approx_count_distinct("host").alias("n_hosts_approx"),
        F.round(F.avg("depth"), 3).alias("mean_depth"),
        F.max("depth").alias("max_depth"),
        F.percentile_approx("planned_ms", pct, F.lit(accuracy)).alias(
            "p_planned_ms"
        ),
        F.round(F.avg("n_links"), 3).alias("mean_outlinks"),
        F.round(
            F.sum("fetched_empty")
            / F.greatest(F.sum("ok"), F.lit(1)),
            6,
        ).alias("empty_text_frac"),
    ]
    grouped = proj.groupingSets(
        [[], [F.col("round")], [F.col("depth")]], "round", "depth"
    )
    out = grouped.agg(F.grouping_id().alias("grouping_id"), *aggs)
    return out.orderBy(
        F.asc("grouping_id"),
        F.asc_nulls_first("round"),
        F.asc_nulls_first("depth"),
    )


def host_report(fetched: DataFrame, k: int = 50) -> DataFrame:
    """Top-``k`` hosts by scheduled volume with per-host crawl health —
    the table a crawl operator reads to spot broken or hostile hosts
    (paired with ``operators/frontier.update_host_budgets``, which
    consumes the same per-host success signal to adapt budgets).

    One host-keyed partial-agg shuffle of small rows, then a global
    top-k via TakeOrderedAndProject (never a full sort). Deterministic:
    ties on volume break by host name.
    """
    per_host = fetched.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_scheduled"),
        F.sum(F.col("fetched").cast("int")).alias("n_fetched"),
        F.round(F.avg(F.col("fetched").cast("int")), 6).alias("fetch_rate"),
        F.round(F.avg("depth"), 3).alias("mean_depth"),
        F.max("planned_ms").alias("max_planned_ms"),
    )
    return per_host.orderBy(
        F.desc("n_scheduled"), F.asc("host")
    ).limit(int(k))
