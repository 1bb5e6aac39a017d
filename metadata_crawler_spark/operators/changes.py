"""Re-crawl change detection: which URLs changed content between two
crawls (the epoch-refresh analog — the reference merely re-stamps
``_crawl_epoch`` on upsert, /root/reference/src/metadata_crawler/api/
stores/base.py:411-425; a web pipeline also wants changed/unchanged/new/
gone classification to prioritize re-fetches)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def detect_changes(
    old: DataFrame,
    new: DataFrame,
    key: str = "url",
    content_col: str = "text",
) -> DataFrame:
    """Full outer join on the key, classify each URL:
    unchanged | changed | new | gone. Content compared by md5 so only
    hashes shuffle, never bodies."""
    o = old.select(
        F.col(key).alias("k"),
        F.md5(F.col(content_col)).alias("old_hash"),
        F.lit(True).alias("_old_present"),
    )
    n = new.select(
        F.col(key).alias("k"),
        F.md5(F.col(content_col)).alias("new_hash"),
        F.lit(True).alias("_new_present"),
    )
    j = o.join(n, "k", "full_outer")
    # Presence is carried by explicit flags, NOT by hash nullness: a URL
    # fetched with NULL/unextractable content hashes to NULL, and judging
    # presence from the hash would classify it "new"/"gone" even when the
    # row exists in both crawls. eqNullSafe makes NULL==NULL "unchanged".
    status = (
        F.when(F.col("_old_present").isNull(), F.lit("new"))
        .when(F.col("_new_present").isNull(), F.lit("gone"))
        .when(
            F.col("old_hash").eqNullSafe(F.col("new_hash")), F.lit("unchanged")
        )
        .otherwise(F.lit("changed"))
    )
    return j.select(F.col("k").alias(key), status.alias("status"))


def change_stats(changes: DataFrame) -> DataFrame:
    return changes.groupBy("status").agg(F.count("*").alias("n_urls"))


def estimate_change_rate(
    visits: DataFrame,
    url_col: str = "url",
    ts_col: str = "ts",
    changed_col: str = "changed",
) -> DataFrame:
    """Per-URL Poisson change-rate estimation (Cho & Garcia-Molina 2003,
    "Estimating Frequency of Change"): from a history of revisit checks
    (one row per completed check: did the page differ from the previous
    fetch?), estimate the change rate

        lambda_hat = -ln((n - X + 0.5) / (n + 0.5)) / I

    where n = checks, X = checks that saw a change, I = mean check
    interval — the bias-corrected estimator for binary change
    observations (the +0.5 keeps X = n finite). Returns per URL:
    (url, n_checks, n_changed, avg_interval_s, lambda_hat) with
    lambda_hat in changes/second; NULL when the history has a single
    check (no interval to normalize by).

    Scale shape: ONE url-keyed groupBy (count/sum/min/max all partial-
    aggregate map-side); no window, no sort — at 10^10 URLs this is the
    same shuffle the seen-set update already pays.
    """
    g = visits.groupBy(F.col(url_col).alias("url")).agg(
        F.count("*").alias("n_checks"),
        F.sum(F.col(changed_col).cast("long")).alias("n_changed"),
        F.min(ts_col).alias("_first"),
        F.max(ts_col).alias("_last"),
    )
    n = F.col("n_checks")
    x = F.col("n_changed")
    span = F.col("_last").cast("double") - F.col("_first").cast("double")
    avg_i = F.when(n > 1, span / (n - 1))
    lam = F.when(
        (n > 1) & (avg_i > 0),
        -F.log((n - x + F.lit(0.5)) / (n + F.lit(0.5))) / avg_i,
    )
    return g.select(
        "url",
        "n_checks",
        "n_changed",
        avg_i.alias("avg_interval_s"),
        lam.alias("lambda_hat"),
        F.col("_last").alias("last_check_ts"),
    )


def checks_delta(classified: DataFrame, now_s: float) -> DataFrame:
    """The rows a recrawl pass appends to the visit-check history that
    feeds :func:`estimate_change_rate`: one (url, ts, changed) row per
    completed content comparison. ``new``/``gone`` rows are excluded —
    a first fetch has no previous content to differ from, and a dead
    url yielded no content at all (keeping them would bias lambda_hat
    toward 0)."""
    return classified.filter(F.col("changed").isNotNull()).select(
        "url", F.lit(float(now_s)).alias("ts"), "changed"
    )


def revisit_schedule(
    rates: DataFrame,
    min_interval_s: float = 3600.0,
    max_interval_s: float = 30 * 24 * 3600.0,
    target: float = 1.0,
) -> DataFrame:
    """Turn change-rate estimates into a recrawl schedule: revisit every
    ``target / lambda_hat`` seconds (expected ``target`` changes per
    revisit — target=1 is the classic uniform-freshness heuristic),
    clamped to [min_interval_s, max_interval_s]. URLs with no usable
    estimate (single check, or zero observed changes) fall back to
    ``max_interval_s`` — never-changing pages drift to the slow lane
    exactly like the reference's epoch-based stale sweep demotes
    unrefreshed entries (api/stores/base.py _crawl_epoch re-stamp).

    Adds (revisit_interval_s, next_due_ts). Pure column expressions.
    """
    lam = F.col("lambda_hat")
    raw = F.when(lam > 0, F.lit(float(target)) / lam)
    interval = F.least(
        F.greatest(
            F.coalesce(raw, F.lit(float(max_interval_s))),
            F.lit(float(min_interval_s)),
        ),
        F.lit(float(max_interval_s)),
    )
    return rates.withColumn(
        "revisit_interval_s", interval
    ).withColumn(
        "next_due_ts",
        F.timestamp_seconds(
            F.col("last_check_ts").cast("double") + interval
        ),
    )


def classify_refetch(
    fetched: DataFrame,
    prior: DataFrame,
    url_col: str = "url",
    content_col: str = "text",
    prior_content_col: str | None = None,
    etag_col: str | None = None,
    fetched_broadcast: bool | None = None,
) -> DataFrame:
    """HTTP-revalidation classification for a recrawl batch — the
    bandwidth decision a conditional fetch (If-None-Match /
    If-Modified-Since -> 304) makes, recomputed over the data so the
    simulation and a live crawler agree on semantics.

    ``fetched`` is this batch's fetch results (url + content);
    ``prior`` is the crawler's standing page store (url + last stored
    content, optionally an explicit ``etag_col`` validator — when absent
    the validator is the stored content's md5, the strong-ETag analog).
    Per fetched url:

    - ``not_modified`` — validator matches the new content hash (the 304
      case: a live crawler never re-transfers the body; ``bytes_saved``
      = stored body size),
    - ``modified`` — prior exists, content differs (200, re-store),
    - ``new`` — no prior row (first fetch).

    Returns (url, status, changed, store_row, bytes_saved): ``changed``
    feeds :func:`estimate_change_rate` check histories (NULL for ``new``
    — a first fetch is not a change observation), ``store_row`` marks
    rows the store must (re)write.

    Scale shape: the 10^10-row ``prior`` store is NEVER the hash-build
    side — both joins broadcast the bounded recrawl batch (inner for
    validator hits, then the 'new' slice by anti-joining the batch
    against the small hit set, the round_loop fetch-join pattern); only
    (url, hash, nbytes) columns of ``prior`` are read, so column pruning
    keeps stored bodies on disk. Above the broadcast bound the probe
    flips both joins to shuffle joins (AQE plans them).
    """
    from .frontier import small_enough_to_broadcast

    pcc = prior_content_col or content_col
    p = prior.select(
        F.col(url_col).alias("url"),
        (F.col(etag_col) if etag_col else F.md5(F.col(pcc))).alias("_etag"),
        stored_bytes(F.col(pcc)).alias("_pbytes"),
    )
    f = fetched.select(
        F.col(url_col).alias("url"),
        F.md5(F.col(content_col)).alias("_new_hash"),
    )
    if fetched_broadcast is None:
        f = f.localCheckpoint(eager=False)
        fetched_broadcast = small_enough_to_broadcast(f)
    f_side = F.broadcast(f) if fetched_broadcast else f
    classified_hits = p.join(f_side, "url", "inner").select(
        "url",
        *revalidate(F.lit(True), F.col("_etag"), F.col("_new_hash"),
                    F.col("_pbytes")),
    )
    # bounded by the batch; checkpointed so its two consumers (the union
    # branch and the hit_urls anti-join build) share ONE scan of the
    # 10^10-row prior store instead of re-executing the join per branch
    classified_hits = classified_hits.localCheckpoint(eager=False)
    hit_urls = classified_hits.select("url")
    new_rows = f.join(
        F.broadcast(hit_urls) if fetched_broadcast else hit_urls,
        "url",
        "left_anti",
    ).select(
        "url",
        F.lit("new").alias("status"),
        F.lit(None).cast("boolean").alias("changed"),
        F.lit(True).alias("store_row"),
        F.lit(0).cast("long").alias("bytes_saved"),
    )
    return classified_hits.unionByName(new_rows)


def stored_bytes(content: Column) -> Column:
    """The body bytes a 304 saves re-transferring: the stored content's
    length in bytes, 0 for NULL content (nothing was stored)."""
    return F.coalesce(
        F.octet_length(content).cast("long"), F.lit(0).cast("long")
    )


def revalidate(
    hit: Column, etag: Column, new_hash: Column, pbytes: Column
) -> list[Column]:
    """THE conditional-fetch (HTTP 304) decision for a stored url, as the
    (status, changed, store_row, bytes_saved) columns.

    ``hit`` is the explicit presence flag of the re-fetch: NULL (no
    re-fetch row) makes the url ``gone``, with ``changed`` NULL (a dead
    url yields no change observation) and nothing stored. Presence is
    never read from content nullness: a page whose re-fetch extracts to
    NULL is still a hit. A hit is ``not_modified`` when the stored
    validator ``etag`` equals the re-fetched content's ``new_hash``
    (NULL == NULL included; ``bytes_saved`` = the stored body's
    ``pbytes``), else ``modified`` (re-store the body)."""
    gone = hit.isNull()
    not_mod = etag.eqNullSafe(new_hash)
    return [
        F.when(gone, F.lit("gone"))
        .when(not_mod, F.lit("not_modified"))
        .otherwise(F.lit("modified"))
        .alias("status"),
        F.when(~gone, ~not_mod).alias("changed"),
        (~gone & ~not_mod).alias("store_row"),
        F.when(~gone & not_mod, pbytes)
        .otherwise(F.lit(0).cast("long"))
        .alias("bytes_saved"),
    ]


def revalidation_stats(classified: DataFrame) -> DataFrame:
    """Per-status counts + transfer bytes a conditional recrawl avoided
    (one partial-agg shuffle of tiny rows)."""
    return classified.groupBy("status").agg(
        F.count("*").alias("n_urls"),
        F.sum("bytes_saved").alias("bytes_saved"),
    )
