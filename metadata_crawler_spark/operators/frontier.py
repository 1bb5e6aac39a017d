"""Frontier scheduling: priority queue + politeness as DataFrame dataflow.

Reference parity: the reference's scheduler is an asyncio work queue —
64 scan workers over a bounded queue (/root/reference/src/metadata_crawler/
data_collector.py:74-78,175-190), descent bounded at the version level
(api/config.py:737-771), version dirs sorted DESCENDING so the newest is
harvested first and doubly-indexed (data_collector.py:156-169), suffix/glob
predicates gating both descent and emission (:203-215). There is no skew
handling: one hot directory serializes on one worker.

Spark redesign (north rule): the frontier is a table; one scheduling round
is one declarative query —

  valid-URL gate -> robots gate (broadcast join + builtin EXISTS predicate)
  -> host-budget join (broadcast) -> per-host top-k (TWO-STAGE, salted, so
  the Zipf hot host never lands in one task) -> politeness offsets computed
  from rank*crawl_delay (schedule, don't sleep).

Ordering is a pure function of the data — (depth ASC, score DESC, url ASC)
— never of partition count or task order (SURVEY §7 hard part a); the
url tie-break mirrors the reference's deterministic descending sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.urls import host_expr

#: only http(s) URLs with a host are schedulable (reference analog: the
#: suffix filter F1 gating emission, posix_backend.rs:226-233)
VALID_URL_RE = r"^https?://[A-Za-z0-9\-._~%]+(:\d+)?(/.*)?$"

def order_cols():
    """The crawl order: a pure function of the data, with a total url
    tie-break (reference analog: deterministic descending version sort)."""
    return [F.col("depth").asc(), F.col("score").desc(), F.col("url").asc()]


def valid_urls(frontier: DataFrame, url_col: str = "url") -> DataFrame:
    return frontier.filter(F.col(url_col).rlike(VALID_URL_RE))


def with_host(frontier: DataFrame, url_col: str = "url") -> DataFrame:
    return frontier.withColumn("host", host_expr(F.col(url_col)))


def path_expr(url_col):
    return F.regexp_replace(url_col, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/]*", "")


#: robots tables above this row count are joined with a shuffle instead of a
#: broadcast (at 10^8 hosts the rules table is not broadcastable)
ROBOTS_BROADCAST_MAX_ROWS = 4_000_000


def _rule_structs(patterns, allow: bool):
    """Raw robots patterns -> array<struct<pat,prec,allow,kind>>.

    kind dispatch keeps the hot path off LIKE: a non-foldable LIKE pattern
    re-compiles per evaluation (measured ~2x slower crawl rounds), and
    real robots rules are overwhelmingly plain prefixes —
      kind 0: plain prefix        -> startswith (cheap string compare)
      kind 1: anchored, no wild   -> string equality
      kind 2: contains ``*``      -> LIKE (escaped; trailing ``$`` folded
                                     into the presence/absence of ``%``)
    prec = raw pattern length (RFC 9309 longest-match precedence).
    Pure expressions — codegen'd, no UDF."""

    def mk(p):
        anchored = F.endswith(p, F.lit("$"))
        raw = F.when(anchored, F.substring(p, 1, F.length(p) - 1)).otherwise(p)
        wild = raw.contains("*")
        esc = F.replace(raw, F.lit("\\"), F.lit("\\\\"))
        esc = F.replace(esc, F.lit("%"), F.lit("\\%"))
        esc = F.replace(esc, F.lit("_"), F.lit("\\_"))
        esc = F.replace(esc, F.lit("*"), F.lit("%"))
        like_pat = F.when(anchored, esc).otherwise(F.concat(esc, F.lit("%")))
        kind = F.when(wild, F.lit(2)).when(anchored, F.lit(1)).otherwise(F.lit(0))
        return F.struct(
            F.when(wild, like_pat).otherwise(raw).alias("pat"),
            F.length(p).alias("prec"),
            F.lit(allow).alias("allow"),
            kind.alias("kind"),
        )

    return F.transform(F.coalesce(patterns, F.array().cast("array<string>")), mk)


#: kind-dispatched single-rule match (LIKE only for wildcard rules)
_RULE_MATCH = """CASE r.kind WHEN 0 THEN startswith(__path, r.pat)
                                   WHEN 1 THEN __path = r.pat
                                   ELSE __path LIKE r.pat END"""

#: disallow-only verdict: any match -> denied (longest-match precedence is
#: vacuous without allow rules — the cheap EXISTS is the hot path)
_ROBOTS_VERDICT_DIS = f"""
NOT exists(__dis, r -> {_RULE_MATCH})
"""

#: full longest-match verdict: among rules matching __path, highest
#: precedence wins; allow wins ties; no match -> allowed. Only evaluated
#: for hosts that actually HAVE allow rules.
_ROBOTS_VERDICT_FULL = f"""
CASE WHEN size(__alw) = 0 THEN NOT exists(__dis, r -> {_RULE_MATCH})
ELSE aggregate(
  filter(concat(__dis, __alw), r -> {_RULE_MATCH}),
  named_struct('prec', -1, 'allow', true),
  (acc, r) -> if(r.prec > acc.prec or (r.prec = acc.prec and r.allow),
                 named_struct('prec', r.prec, 'allow', r.allow), acc)
).allow END
"""


def apply_robots(
    frontier: DataFrame,
    robots: DataFrame,
    broadcast: bool | None = None,
) -> DataFrame:
    """Drop URLs the host's robots rules disallow; attach crawl_delay_ms.

    RFC 9309 matching: Allow + Disallow patterns with ``*``/``$`` wildcards,
    longest-match precedence, allow wins ties, hosts without rules pass
    with delay 0. Patterns are compiled to LIKE patterns and evaluated
    JVM-side (no UDF).

    ``broadcast``: True/False forces the join strategy; None (default)
    auto-switches — broadcast while the rules table is provably small
    (bounded ``limit().count()`` probe), shuffle join beyond
    ROBOTS_BROADCAST_MAX_ROWS (the 10^8-host path).
    """
    has_allow = "allow" in robots.columns
    cols = [
        F.col("host"),
        _rule_structs(F.col("disallow"), False).alias("__dis"),
        F.col("crawl_delay_ms").alias("__delay"),
    ]
    if has_allow:
        cols.append(_rule_structs(F.col("allow"), True).alias("__alw"))
    rtab = robots.select(*cols)
    if broadcast is None:
        # bounded probe: scans at most MAX+1 rows, never the whole table
        broadcast = small_enough_to_broadcast(robots.select("host"))
    joined = frontier.join(F.broadcast(rtab) if broadcast else rtab, "host", "left")
    joined = joined.withColumn("__path", path_expr(F.col("url")))
    verdict = _ROBOTS_VERDICT_FULL if has_allow else _ROBOTS_VERDICT_DIS
    allowed = F.col("__dis").isNull() | F.expr(verdict)
    drop = ["__dis", "__path", "__delay"] + (["__alw"] if has_allow else [])
    return (
        joined.filter(allowed)
        .withColumn("crawl_delay_ms", F.coalesce(F.col("__delay"), F.lit(0)))
        .drop(*drop)
    )


def per_host_topk(
    frontier: DataFrame,
    budget_col: str = "budget",
    salt_parts: int = 8,
) -> DataFrame:
    """Per-host top-budget under (depth ASC, score DESC, url ASC), skew-safe.

    TWO-STAGE top-k: stage 1 ranks within (host, salt) — the Zipf hot host
    splits across ``salt_parts`` tasks — keeping at most ``budget`` rows per
    salt; stage 2 ranks the surviving <= salt_parts*budget rows per host
    exactly. Global top-budget is a subset of the union of per-salt
    top-budgets, so the result is exact. Rank is returned as ``rank``
    (1-based) — the politeness schedule derives from it.
    """
    salted = frontier.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col("url"), F.lit(7)), F.lit(salt_parts))
    )
    w1 = Window.partitionBy("host", "_salt").orderBy(*order_cols())
    pruned = (
        salted.withColumn("_r1", F.row_number().over(w1))
        .filter(F.col("_r1") <= F.col(budget_col))
        .drop("_r1", "_salt")
    )
    w2 = Window.partitionBy("host").orderBy(*order_cols())
    return (
        pruned.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= F.col(budget_col))
    )


def with_site(
    frontier: DataFrame, url_col: str = "url", rules=None
) -> DataFrame:
    """Append ``site`` = the PSL registrable domain (functions/domains),
    falling back to the raw host for IP literals / single-label hosts —
    the cross-subdomain politeness group: ``a.blogspot.com`` and
    ``b.blogspot.com`` are separate sites, ``www.bbc.co.uk`` and
    ``news.bbc.co.uk`` one crawl-budget unit. Zero shuffle (tiered
    JVM/Arrow extraction)."""
    from ..functions.domains import with_registered_domain

    df = with_registered_domain(
        frontier, url_col=url_col, out_col="_rd", rules=rules
    )
    return df.withColumn(
        "site", F.coalesce(F.col("_rd"), F.col("host"))
    ).drop("_rd")


def with_politeness_schedule(
    scheduled: DataFrame, by_site: bool = False
) -> DataFrame:
    """Politeness without sleeping: the i-th URL of a host this round is
    assigned fetch_offset_ms = (i-1) * crawl_delay_ms. A fetcher executes
    its batch in rank order honoring offsets; the plan itself stays pure.
    (Reference analog: bounded per-queue concurrency T1/T2 — it has no
    per-host delay concept at all.)

    ``by_site=True`` serializes across SUBDOMAINS of one registrable
    domain (requires a ``site`` column — :func:`with_site`): the offset
    is the running sum of the delays of all earlier rows in the site
    (each row keeps its own host's crawl_delay_ms), so a thousand
    ``*.blogspot.com`` hosts never hit the origin simultaneously. One
    extra site-keyed window; per-host mode stays zero-cost."""
    if not by_site:
        return scheduled.withColumn(
            "fetch_offset_ms",
            (F.col("rank") - 1).cast("long") * F.col("crawl_delay_ms"),
        )
    w = (
        Window.partitionBy("site")
        .orderBy(*order_cols())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return scheduled.withColumn(
        "fetch_offset_ms",
        F.coalesce(F.sum("crawl_delay_ms").over(w), F.lit(0)).cast("long"),
    )


def small_enough_to_broadcast(
    df: DataFrame, max_rows: int = ROBOTS_BROADCAST_MAX_ROWS
) -> bool:
    """Bounded size probe: scans at most ``max_rows + 1`` rows (a
    ``limit().count()``), never the whole table — the decision a real
    cluster makes from table statistics."""
    return df.limit(max_rows + 1).count() <= max_rows


def small_by_estimate(
    df: DataFrame, max_rows: int = ROBOTS_BROADCAST_MAX_ROWS
) -> bool:
    """The same switch from the optimizer's row estimate, read from the
    plan's statistics on the driver (no job): the row count where the
    plan knows it (catalog statistics), else its size estimate over the
    plan's default row width (8 bytes of row overhead plus each column's
    default size, Spark's own estimation rule). A plan that carries no
    estimate (an RDD-backed frame reads as spark.sql.defaultSizeInBytes)
    takes :func:`small_enough_to_broadcast`'s bounded probe."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rows = stats.rowCount()
    if rows.isDefined():
        return int(str(rows.get())) <= max_rows
    size = int(str(stats.sizeInBytes()))
    conf = df.sparkSession._jsparkSession.sessionState().conf()
    if size >= conf.defaultSizeInBytes():
        return small_enough_to_broadcast(df, max_rows)
    return size <= max_rows * (8 + df._jdf.schema().defaultSize())


def gate_frontier(
    frontier: DataFrame,
    hosts: DataFrame,
    robots: DataFrame,
    default_budget: int = 8,
    robots_broadcast: bool | None = None,
    hosts_broadcast: bool | None = None,
) -> DataFrame:
    """The admission gates of a round: validity -> host -> robots ->
    budget attach. Everything that survives is ELIGIBLE (fetchable now or
    a later round); everything filtered here is permanently blocked and
    must NOT re-enter the frontier (the round loop drops it — carrying
    blocked URLs forever would grow per-round cost without bound).

    Both side tables get the same size-gated broadcast/shuffle switch: at
    the documented 10^8-host scale ``hosts`` has the same cardinality as
    ``robots``, so a forced broadcast of either would fail (ADVICE r2).
    ``None`` (the default) probes with a bounded ``limit().count()``;
    callers that already know the answer (Crawler caches it per run)
    pass True/False to skip the probe."""
    f = with_host(valid_urls(frontier))
    f = apply_robots(f, robots, broadcast=robots_broadcast)
    budgets = hosts.select("host", "budget")
    if hosts_broadcast is None:
        hosts_broadcast = small_enough_to_broadcast(budgets)
    f = f.join(F.broadcast(budgets) if hosts_broadcast else budgets, "host", "left")
    return f.withColumn("budget", F.coalesce(F.col("budget"), F.lit(default_budget)))


def schedule_round(
    frontier: DataFrame,
    hosts: DataFrame,
    robots: DataFrame,
    salt_parts: int = 8,
    default_budget: int = 8,
    robots_broadcast: bool | None = None,
    hosts_broadcast: bool | None = None,
    site_politeness: bool = False,
    psl_rules=None,
) -> DataFrame:
    """One full scheduling round over an already-deduped frontier:
    validity -> host -> robots -> budget -> skew-safe top-k -> politeness.

    Returns columns: url, url_hash_hi/lo (if present), host, depth, score,
    budget, crawl_delay_ms, rank, fetch_offset_ms (+ site when
    ``site_politeness`` — offsets then serialize across all subdomains
    of one registrable domain instead of per exact host; robots matching
    and budgets stay per-host, per RFC 9309 origin scope).
    """
    gated = gate_frontier(
        frontier, hosts, robots, default_budget, robots_broadcast, hosts_broadcast
    )
    return schedule_eligible(gated, salt_parts, site_politeness, psl_rules)


def schedule_eligible(
    gated: DataFrame,
    salt_parts: int,
    site_politeness: bool,
    psl_rules,
) -> DataFrame:
    """The scheduling half of a round over :func:`gate_frontier`'s
    eligible set: skew-safe per-host top-budget, then politeness offsets
    (per host, or per registrable domain with ``site_politeness``)."""
    f = per_host_topk(gated, "budget", salt_parts)
    if site_politeness:
        f = with_site(f, rules=psl_rules)
    return with_politeness_schedule(f, by_site=site_politeness)


def expand_outlinks(
    fetched: DataFrame,
    links_col: str = "links",
    score_col: str = "score",
    depth_col: str = "depth",
) -> DataFrame:
    """OPIC-style frontier expansion: a fetched page divides its score
    among its outlinks; children enter at depth+1.

    (Reference analog: _iter_content descending one directory level,
    data_collector.py:192-230; the cash-splitting is ours, per north rule.)
    """
    n = F.size(F.col(links_col))
    return (
        fetched.filter(n > 0)
        .select(
            F.explode(F.col(links_col)).alias("url"),
            (F.col(depth_col) + 1).alias("depth"),
            (F.col(score_col) / n).alias("score"),
        )
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    teleport: DataFrame | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over a (src, dst) link multigraph — the
    periodic frontier re-scoring pass (VERDICT r4 item 8): OPIC's local
    cash-splitting is cheap per round but myopic; every K crawl rounds a
    PageRank sweep over the ACCUMULATED link graph re-prioritizes the
    frontier by global link authority (the Cho/Garcia-Molina recrawl
    ordering).

      pr_0(v)    = 1/N
      pr_{k+1}(v) = (1-d)/N + d * sum_{(u,v) in E} pr_k(u) / outdeg(u)

    Fixed ``iterations`` (not to-convergence) keeps the pass bounded and
    lets an unrolled-CTE SQL oracle recompute it exactly (q29 family).
    Dangling mass is NOT redistributed — that changes absolute values,
    not the ordering used for prioritization, and keeps every iteration
    free of a global scalar barrier.

    ``vertices`` (one ``url`` column) fixes the vertex set; default =
    every url appearing as src or dst. Returns (url, pr).

    ``teleport`` personalizes the walk: a (url[, weight]) DataFrame
    replaces the uniform restart — pr_0 = t and the restart term becomes
    ``(1-d) * t(v)`` where t is the weight vector normalized over the
    graph's vertices (weights on non-vertices are ignored; duplicate
    seed rows sum; missing ``weight`` column means uniform-over-seeds).
    This is the TrustRank shape (:func:`trustrank`). The normalizing
    total rides an Observation on the teleport checkpoint — no extra
    job — and raises if no positive-weight seed is a graph vertex or
    if any seed weight is negative (a mixed-sign vector would make
    negative "probabilities").
    With ``teleport=None`` the plan is byte-identical to before (scalar
    restart literal), so the q29 oracle's unrolled CTEs stay exact.

    Scale shape: edges join outdeg ONCE and checkpoint (the graph is the
    big table — it never moves again across iterations thanks to the
    checkpoint; re-reads are materialized blocks). Each iteration moves
    only (url, pr) pairs: one src-keyed join + one dst-keyed partial-agg
    groupBy + one vertex left join — the standard 2-shuffle distributed
    PageRank. localCheckpoint per iteration bounds lineage (the q57
    pattern); N rides an Observation on the vertex checkpoint job.
    """
    from .common import checkpoint_observed

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    if vertices is None:
        verts = (
            e.select(F.col("src").alias("url"))
            .unionByName(e.select(F.col("dst").alias("url")))
            .distinct()
        )
    else:
        verts = vertices.select(F.col("url")).distinct()
    verts, n = checkpoint_observed(verts, F.count(F.lit(1)))
    n = float(n)
    if n == 0:
        # empty graph (e.g. a crawl whose pages had no outlinks yet):
        # no ranks to compute — an empty (url, pr) result, never a
        # divide-by-zero on the uniform prior
        return verts.select("url", F.lit(0.0).alias("pr"))
    outdeg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    contrib_edges = e.join(outdeg, "src").localCheckpoint()

    if teleport is None:
        pr = verts.select("url", F.lit(1.0 / n).alias("pr"))
        restart = F.lit((1.0 - damping) / n)
    else:
        w = (
            F.col("weight").cast("double")
            if "weight" in teleport.columns
            else F.lit(1.0)
        )
        seeds = (
            teleport.select(F.col("url"), w.alias("w0"))
            .groupBy("url")
            .agg(F.sum("w0").alias("w0"))
        )
        tele = verts.join(seeds, "url", "left").select(
            "url", F.coalesce("w0", F.lit(0.0)).alias("w0")
        )
        tele, (tot, wmin) = checkpoint_observed(
            tele, F.sum("w0"), F.min("w0")
        )
        tot = float(tot or 0.0)
        if wmin is not None and float(wmin) < 0.0:
            # a mixed-sign weight vector can still sum positive but
            # would yield negative teleport probabilities (and negative
            # ranks) silently — reject it outright
            raise ValueError("pagerank teleport: negative seed weight")
        if tot <= 0.0:
            raise ValueError(
                "pagerank teleport: no positive-weight seed is a graph vertex"
            )
        verts = tele.select(
            "url", (F.col("w0") / F.lit(tot)).alias("t")
        ).localCheckpoint()
        pr = verts.select("url", F.col("t").alias("pr"))
        restart = F.lit(1.0 - damping) * F.col("t")
    for _ in range(iterations):
        inbound = (
            contrib_edges.join(pr, contrib_edges["src"] == pr["url"])
            .select(
                F.col("dst").alias("url"),
                (F.col("pr") / F.col("deg")).alias("c"),
            )
            .groupBy("url")
            .agg(F.sum("c").alias("m"))
        )
        pr = (
            verts.join(inbound, "url", "left")
            .select(
                "url",
                (
                    restart
                    + F.lit(damping) * F.coalesce("m", F.lit(0.0))
                ).alias("pr"),
            )
            # r6: LAZY checkpoint — still truncates lineage at
            # materialization, but the k iterations now run as stages of
            # ONE consuming job instead of k blocking driver round-trips
            # (each eager checkpoint was its own job; the sweep-round
            # latency was job-count-bound, not data-bound)
            .localCheckpoint(eager=False)
        )
    return pr


def trustrank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
) -> DataFrame:
    """TrustRank (Gyöngyi, Garcia-Molina & Pedersen, VLDB 2004):
    PageRank whose restart jumps only to a curated trusted seed set, so
    rank can reach a page only through link paths that start at trust.
    A crawl frontier uses it beside plain PageRank: link farms
    manufacture PageRank among themselves but cannot manufacture paths
    FROM the trusted core, so trust-starved high-PR pages are spam
    candidates (:func:`spam_mass`) and get demoted before they eat
    fetch budget. Reference analog: the reference trusts its configured
    search directories wholesale (drs config roots); TrustRank is that
    same whitelist made transitive over discovered links.

    ``seeds``: (url[, weight]) — biased trust (e.g. directory sites)
    via the optional weight column. Same fixed-iteration, 2-shuffle,
    lineage-checkpointed shape as :func:`pagerank`; returns (url, pr)
    where pr is the trust score.
    """
    return pagerank(
        edges,
        iterations=iterations,
        damping=damping,
        src=src,
        dst=dst,
        vertices=vertices,
        teleport=seeds,
    )


def spam_mass(pr: DataFrame, tr: DataFrame) -> DataFrame:
    """Relative spam mass (Gyöngyi, Berkhin, Garcia-Molina & Pedersen,
    VLDB 2006 "Link spam detection based on mass estimation"): the
    fraction of a page's PageRank NOT explained by trust-reachable rank,

        mass(v) = (pr_n(v) - tr_n(v)) / pr_n(v)

    with both vectors L1-normalized first so the two walks are
    comparable (our pagerank does not redistribute dangling mass, so
    raw totals differ between runs). mass near 1 = rank earned almost
    entirely from untrusted regions (link-spam candidate); mass <= 0 =
    trust-rich. Inputs are the (url, pr) outputs of :func:`pagerank`
    and :func:`trustrank` on the SAME graph; vertices missing from the
    trust side score tr = 0. The two normalizing totals are single-row
    aggregates (bounded driver data). Returns (url, pr, tr, spam_mass).
    """
    # ONE action for both normalizing totals (VERDICT r5 item 5): the
    # two 1-row aggregates ride a single job via a 1x1 cross join
    # instead of two sequential collect()s.
    row = (
        pr.agg(F.sum("pr").alias("_pr_tot"))
        .crossJoin(tr.agg(F.sum("pr").alias("_tr_tot")))
        .collect()[0]
    )
    pr_tot = float(row["_pr_tot"] or 0.0)
    tr_tot = float(row["_tr_tot"] or 0.0)
    if pr_tot <= 0.0 or tr_tot <= 0.0:
        raise ValueError("spam_mass: degenerate rank vector (sum <= 0)")
    j = pr.select("url", (F.col("pr") / F.lit(pr_tot)).alias("prn")).join(
        tr.select(F.col("url"), (F.col("pr") / F.lit(tr_tot)).alias("trn")),
        "url",
        "left",
    )
    trn = F.coalesce("trn", F.lit(0.0))
    return j.select(
        "url",
        F.col("prn").alias("pr"),
        trn.alias("tr"),
        F.when(F.col("prn") > 0, (F.col("prn") - trn) / F.col("prn"))
        .alias("spam_mass"),
    )


def hits(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration HITS (Kleinberg 1999) over the accumulated link
    graph — PageRank's complement for crawl scheduling: ``authority``
    ranks pages worth FETCHING (pointed at by good hubs), ``hub`` ranks
    pages worth RE-PARSING for outlinks (pointing at good authorities).
    A directory/sitemap page is a hub long before it accrues PageRank.

      a_{k+1}(v) = sum_{(u,v) in E} h_k(u);  h_{k+1}(u) = sum_{(u,v)} a_{k+1}(v)
    with sum-normalization after each half-step (the scalar rides an
    Observation on the iteration's checkpoint — no extra jobs; L1 instead
    of the classical L2 so an unrolled SQL oracle can recompute exactly,
    and scale-invariant for ordering either way).

    Same scale shape as :func:`pagerank`: edges checkpoint once, every
    iteration moves only (url, score) pairs through src-/dst-keyed
    partial-agg joins, localCheckpoint bounds lineage. Returns
    (url, authority, hub) for every vertex (dangling sides score 0.0).
    """
    from .common import checkpoint_observed

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    verts = (
        e.select(F.col("src").alias("url"))
        .unionByName(e.select(F.col("dst").alias("url")))
        .distinct()
    )
    verts, n = checkpoint_observed(verts, F.count(F.lit(1)))
    if float(n) == 0:
        return verts.select(
            "url", F.lit(0.0).alias("authority"), F.lit(0.0).alias("hub")
        )
    e = e.localCheckpoint()
    # uniform L1-normalized init (scale-invariant: iteration 1's
    # normalization erases any constant init), so iterations=0 returns
    # the uniform prior like pagerank() instead of an AttributeError on
    # a never-assigned auth
    uniform = F.lit(1.0 / float(n))
    hub = verts.select("url", uniform.alias("h"))
    auth = verts.select("url", uniform.alias("a"))
    for _ in range(iterations):
        a_raw = (
            e.join(hub, e["src"] == hub["url"])
            .groupBy(F.col("dst").alias("url"))
            .agg(F.sum("h").alias("a"))
        )
        a_all = verts.join(a_raw, "url", "left").select(
            "url", F.coalesce("a", F.lit(0.0)).alias("a")
        )
        auth, a_sum = checkpoint_observed(a_all, F.sum("a"))
        auth = auth.select("url", (F.col("a") / F.lit(float(a_sum))).alias("a"))
        h_raw = (
            e.join(auth, e["dst"] == auth["url"])
            .groupBy(F.col("src").alias("url"))
            .agg(F.sum("a").alias("h"))
        )
        h_all = verts.join(h_raw, "url", "left").select(
            "url", F.coalesce("h", F.lit(0.0)).alias("h")
        )
        hub, h_sum = checkpoint_observed(h_all, F.sum("h"))
        hub = hub.select("url", (F.col("h") / F.lit(float(h_sum))).alias("h"))
    return (
        auth.join(hub, "url")
        .select(
            "url",
            F.col("a").alias("authority"),
            F.col("h").alias("hub"),
        )
    )


def rescore_frontier(
    frontier: DataFrame,
    edges: DataFrame,
    iterations: int = 3,
    damping: float = 0.85,
    url_col: str = "url",
    score_col: str = "score",
) -> DataFrame:
    """Replace frontier scores with PageRank over the accumulated link
    graph: frontier urls keep their other columns; urls absent from the
    graph fall back to the rank floor (1-d)/N so fresh discoveries are
    not starved ahead of known-authority pages. The frontier side is the
    big table — the pr table is |V|-bounded (url, pr) pairs and joins on
    the url key (broadcast when small; AQE decides)."""
    pr = pagerank(edges, iterations, damping)
    floor_n = pr.count()
    if floor_n == 0:
        return frontier  # no link graph yet: keep the OPIC scores
    floor = (1.0 - damping) / floor_n
    return (
        frontier.join(
            pr.withColumnRenamed("url", url_col), url_col, "left"
        )
        .withColumn(score_col, F.coalesce("pr", F.lit(floor)))
        .drop("pr")
    )


def update_host_budgets(
    hosts: DataFrame,
    fetched: DataFrame,
    incr: int = 2,
    decay: float = 0.5,
    min_budget: int = 1,
    max_budget: int = 64,
    healthy_rate: float = 0.9,
    min_attempts: int = 4,
    host_col: str = "host",
    ok_col: str = "fetched",
) -> DataFrame:
    """AIMD politeness adaptation: the feedback loop from fetch outcomes
    back into the scheduler's per-host budgets. Hosts whose round
    succeeded (success rate >= ``healthy_rate`` over >= ``min_attempts``
    attempts) earn additive budget ``+incr`` up to ``max_budget``; hosts
    that failed (timeouts, 5xx — anything that left ``ok_col`` false)
    take a multiplicative ``*decay`` cut down to ``min_budget``; hosts
    with too few attempts (or absent this round) keep their budget.
    TCP's AIMD shape on purpose: probe capacity slowly, back off fast —
    the polite response to a struggling origin.

    Plan: ONE host-keyed partial-agg over the round's fetched table
    (tiny rows), left-joined onto hosts (hosts is the small side at any
    scale; broadcast decided by AQE). Reference analog: the reference's
    fixed per-store batch size (config.py `batch_size`) — static where
    this adapts.
    """
    rates = fetched.groupBy(F.col(host_col).alias("host")).agg(
        F.count("*").alias("_n"),
        F.avg(F.col(ok_col).cast("double")).alias("_ok_rate"),
    )
    # size-gated like every other join in this module: a round can
    # cover millions of distinct hosts at the 10^8-host scale, and a
    # forced broadcast would collect the whole aggregate on the driver
    rates = rates.localCheckpoint(eager=False)
    j = hosts.join(
        F.broadcast(rates) if small_enough_to_broadcast(rates) else rates,
        "host", "left",
    )
    measured = F.col("_n") >= min_attempts
    healthy = F.col("_ok_rate") >= healthy_rate
    new_budget = (
        F.when(measured & healthy,
               F.least(F.col("budget") + incr, F.lit(max_budget)))
        .when(measured & ~healthy,
              F.greatest(
                  F.floor(F.col("budget") * decay).cast("int"),
                  F.lit(min_budget),
              ))
        .otherwise(F.col("budget"))
    )
    return j.withColumn("budget", new_budget).drop("_n", "_ok_rate")
