"""RFC-3986 URL canonicalization + host extraction + 128-bit URL hashing.

Reference parity: the reference canonicalizes discovered object names
per storage backend — absolute POSIX paths, rebuilt ``s3://`` URLs, Swift
SplitResult reconstruction (/root/reference/src/metadata_crawler/backends/
posix.py:86-114, s3.py:113-141, swift.py:261-302) — and keys its entire
upsert/seen semantics on that canonical name (api/stores/mongodb.py:244-249).
Our analog is web-URL canonicalization; the canonical form keys the
seen-set (128-bit hash) exactly like the reference's unique index.

Three tiers, fastest first:

1. ``canonicalize_expr``   — pure Spark column expressions for the subset of
   transforms that are branch-free (lowercase scheme/host, strip fragment &
   default port, sort query params, default path). Whole-stage-codegen'd;
   used in oracle-checked queries and as a pre-pass.
2. ``canonicalize_udf``    — Arrow-batched pandas UDF: vectorized fast-path
   detection (regex mask over the whole batch); only the messy minority
   (%-escapes, dot-segments, mixed case, ports) falls through to the
   pure-Python reference canonicalizer. Its batch body ``_canon_batch``
   also canonicalizes a crawl round's outlinks inside the fetch batch
   that extracts them (plans/round_loop._fetch_batches), so outlinks
   never pass through ``with_canonical``: the split-union serves seed
   frontiers and PageRank edges.
3. ``canon_url_py``        — the pure-Python reference implementation
   (single URL). Source of truth for tests and fixture generation.
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from urllib.parse import parse_qsl, quote, urlencode, urlsplit, urlunsplit

DEFAULT_PORTS = {"http": 80, "https": 443, "ftp": 21, "ws": 80, "wss": 443}

# Characters that stay literal in a canonical path (RFC 3986 pchar + "/").
_PATH_SAFE = "/-._~!$&'()*+,;=:@"

_PCT_RE = re.compile(r"%([0-9A-Fa-f]{2})")
_UNRESERVED = set(
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz0123456789-._~"
)


def _norm_pct_triplet(m: re.Match) -> str:
    """RFC 3986 §6.2.2: decode %XX only for unreserved chars; uppercase the
    hex of everything else (escaped reserved chars are semantically distinct
    from their literals — %2F != /)."""
    ch = chr(int(m.group(1), 16))
    return ch if ch in _UNRESERVED else "%" + m.group(1).upper()


def _resolve_dot_segments(path: str) -> str:
    """RFC 3986 §5.2.4 remove_dot_segments."""
    out: list[str] = []
    for seg in path.split("/"):
        if seg == ".":
            continue
        if seg == "..":
            if len(out) > 1:
                out.pop()
            continue
        out.append(seg)
    # Preserve a trailing slash implied by a final "." / ".." segment.
    if path.endswith(("/.", "/..")) and (not out or out[-1] != ""):
        out.append("")
    res = "/".join(out)
    if not res.startswith("/"):
        res = "/" + res
    return res


def canon_url_py(url: str) -> str:
    """Canonicalize one URL (pure Python; the reference implementation).

    lowercase scheme/host, strip default port + fragment, resolve dot
    segments, normalize %-escapes (decode unreserved, re-encode the rest
    uppercase), sort query parameters, default empty path to "/".
    NULL/blank input stays None — fabricating '/' would give every
    missing url the SAME canonical string (and therefore the same
    128-bit key: the first NULL would mark all later NULLs as seen).
    """
    if url is None:
        return None
    url = url.strip()
    if not url:
        return None
    try:
        parts = urlsplit(url)
    except ValueError:
        return url
    scheme = parts.scheme.lower()
    host = (parts.hostname or "").lower()
    try:
        port = parts.port
    except ValueError:
        port = None
    userinfo = ""
    if parts.username:
        userinfo = parts.username
        if parts.password:
            userinfo += ":" + parts.password
        userinfo += "@"
    netloc = userinfo + host
    if port is not None and port != DEFAULT_PORTS.get(scheme):
        netloc = f"{netloc}:{port}"
    path = parts.path or "/"
    # escape raw disallowed chars (spaces, ...) leaving existing %XX intact,
    # then normalize the %XX triplets themselves
    path = quote(path, safe=_PATH_SAFE + "%")
    path = _PCT_RE.sub(_norm_pct_triplet, path)
    path = _resolve_dot_segments(path)
    query = ""
    if parts.query:
        pairs = sorted(parse_qsl(parts.query, keep_blank_values=True))
        query = urlencode(pairs)
    return urlunsplit((scheme, netloc, path, query, ""))


# A URL that matches this is already canonical except possibly an empty path:
# lowercase scheme + host, no userinfo/port, no %, ?, #, and no "." segments.
_FAST_RE = (
    r"[a-z][a-z0-9+.\-]*://[a-z0-9\-]+(\.[a-z0-9\-]+)*"
    r"(/[A-Za-z0-9/\-._~!$&'()*+,;=:@]*)?"
)
# '.' and ':' ARE in the class (both canonical per RFC 3986 pchar):
# without '.' every real-web '/index.html' url fell to the Python slow
# path, defeating the ~90% JVM split on the throughput-critical
# operator; dot SEGMENTS are still excluded by the /\.\.?(/|$) guard.


def _canon_batch(s: pd.Series) -> pd.Series:
    """Vectorized canonicalization of one Arrow batch of URLs.
    NULL/blank rows stay None (see canon_url_py)."""
    sf = s.fillna("")
    blank = sf.str.strip() == ""
    fast = (
        ~blank
        & sf.str.fullmatch(_FAST_RE)
        & ~sf.str.contains(r"/\.\.?(?:/|$)", regex=True)
    )
    out = sf.copy()
    # Fast path needs at most one fix: an empty path ("scheme://host" -> ".../").
    no_path = fast & sf.str.match(r"[a-z][a-z0-9+.\-]*://[^/]+$")
    out[no_path] = sf[no_path] + "/"
    slow = ~fast & ~blank
    if slow.any():
        out[slow] = sf[slow].map(canon_url_py)
    out = out.where(~blank, None)
    return out


@F.pandas_udf(T.StringType())
def canonicalize_udf(urls: pd.Series) -> pd.Series:
    return _canon_batch(urls)


#: Java-regex variants of the fast path for PLAN-level splitting (rlike is
#: a search, so anchor explicitly; classes are ASCII-only — identical
#: semantics in Python re and Java regex).
_FAST_RE_ANCHORED = f"^{_FAST_RE}$"
_DOT_SEG_RE = r"/\.\.?(/|$)"
_NO_PATH_RE = r"^[a-z][a-z0-9+.\-]*://[^/]+$"


def with_canonical(df: DataFrame, url_col: str = "url",
                   out_col: str | None = None) -> DataFrame:
    """Split-union canonicalization: rows ALREADY in canonical form (the
    fast regex — the overwhelming majority of a real crawl corpus) never
    leave the JVM: the only fix they can need is appending "/" to an
    empty path, a pure column expression. Only the messy minority
    (%-escapes, dot segments, ports, uppercase, userinfo, NULLs) pays the
    Arrow transfer + pandas UDF.

    Seed frontiers and PageRank link edges go through it (a crawl
    round's outlinks are canonicalized in their fetch batch instead);
    the split typically removes ~90% of Python work. Row ORDER is not
    preserved across the union — every caller aggregates or joins
    downstream, and crawl ordering is a pure function of the data,
    never of row order (SURVEY §7a).
    """
    out_col = out_col or url_col
    u = F.col(url_col)
    fast_cond = F.coalesce(
        u.rlike(_FAST_RE_ANCHORED) & ~u.rlike(_DOT_SEG_RE), F.lit(False)
    )
    fast = df.filter(fast_cond).withColumn(
        out_col,
        F.when(u.rlike(_NO_PATH_RE), F.concat(u, F.lit("/"))).otherwise(u),
    )
    slow = df.filter(~fast_cond).withColumn(out_col, canonicalize_udf(u))
    return fast.unionByName(slow)


def canonicalize_expr(url: Column) -> Column:
    """Branch-free canonical transforms as pure column expressions.

    Handles: strip fragment, lowercase scheme+host, strip :80/:443 default
    port, sort query parameters, default empty path to "/". Does NOT handle
    %-escapes or dot-segments (use ``canonicalize_udf`` for the full form).
    Kept in Spark builtins so Catalyst codegens it and the DuckDB oracle can
    express the identical transform (see __spark_entry__.q_url_canonicalize).
    """
    u = F.regexp_replace(url, r"#.*$", "")  # fragment
    scheme = F.lower(F.regexp_extract(u, r"^([A-Za-z][A-Za-z0-9+.\-]*)://", 1))
    hostport = F.lower(F.regexp_extract(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://([^/?#]*)", 1))
    # Strip the port only when it is the scheme default; keep others.
    host = F.when(
        ((scheme == "http") & hostport.endswith(":80"))
        | ((scheme == "https") & hostport.endswith(":443")),
        F.regexp_replace(hostport, r":\d+$", ""),
    ).otherwise(hostport)
    rest = F.regexp_replace(u, r"^[A-Za-z][A-Za-z0-9+.\-]*://[^/?#]*", "")
    path = F.regexp_extract(rest, r"^([^?#]*)", 1)
    path = F.when(path == "", F.lit("/")).otherwise(path)
    query = F.regexp_extract(rest, r"\?([^#]*)", 1)
    sorted_query = F.array_join(F.array_sort(F.split(query, "&")), "&")
    return F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(query == "", F.lit("")).otherwise(F.concat(F.lit("?"), sorted_query)),
    )


def host_expr(url: Column) -> Column:
    """Registered-host extraction (lowercased, port stripped) — builtin."""
    return F.lower(
        F.regexp_extract(url, r"^[A-Za-z][A-Za-z0-9+.\-]*://(?:[^@/]*@)?([^:/?#]*)", 1)
    )


#: version of the (url_hash_hi, url_hash_lo) key formula. Version 2 =
#: salt-FIRST independent halves (xxhash64(url), xxhash64(1, url)).
#: Version 1 (pre-r5) derived lo as xxhash64(url, 1) — a pure function
#: of hi. Checkpoints stamp this (ADVICE r5): resuming a crawl dir whose
#: stored pairs used a different formula would make every seen probe
#: miss (hi matches, lo doesn't) and silently re-crawl everything.
URL_HASH_VERSION = 2


def with_url_hash(df: DataFrame, url_col: str = "url") -> DataFrame:
    """Append the 128-bit URL key as two longs (url_hash_hi, url_hash_lo).

    Spark's ``xxhash64`` folds each argument into the running hash —
    which is exactly why the salt must come FIRST: ``xxhash64(url, 1)``
    folds the url and then folds 1 into the result, making the second
    digest a pure function of the first (a hi collision implied a lo
    collision, so the "128-bit" key had 64-bit resistance — at 10^10
    urls that is an expected handful of full-key collisions, each a
    url silently never crawled). ``xxhash64(1, url)`` starts the second
    digest from a different running seed, so the two halves are
    independent. JVM-side, codegen'd, zero Python.
    """
    return df.withColumn("url_hash_hi", F.xxhash64(F.col(url_col))).withColumn(
        "url_hash_lo", F.xxhash64(F.lit(1), F.col(url_col))
    )


def shard_expr(hash_col: Column, n_shards: int) -> Column:
    """Bloom shard id: pmod(hash, n_shards) — matches partitioning."""
    return F.pmod(hash_col, F.lit(n_shards)).cast("int")


def url_quality_flags(
    url: Column,
    max_url_len: int = 2048,
    max_path_depth: int = 12,
    max_query_params: int = 8,
) -> Column:
    """Struct of URL-quality signals (the C4/RefinedWeb URL-filtering
    stage a pretraining pipeline runs before any fetch): all pure JVM
    expressions, zero Python.

    Fields: too_long, too_deep (path segments), too_many_params,
    session_junk (sessionid/jsessionid/phpsessid/sid= in the query),
    non_http, junk — the OR of all of the above.
    """
    path = F.regexp_replace(
        F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://[^/]+(/[^?#]*)?", 1),
        r"/+$", "",
    )
    query = F.regexp_extract(url, r"\?([^#]*)", 1)
    # NULL-coalesce every flag (ADVICE r4): a NULL url would otherwise
    # make all fields — including `junk` — NULL, and filter(~junk) would
    # silently drop the row without ever flagging it. A NULL url is not
    # a fetchable http URL, so non_http (and therefore junk) is True;
    # the shape-specific flags stay False because nothing was measured.
    too_long = F.coalesce(F.length(url) > max_url_len, F.lit(False))
    too_deep = F.coalesce(
        F.size(F.split(path, "/")) - 1 > max_path_depth, F.lit(False)
    )
    n_params = F.when(query == "", 0).otherwise(F.size(F.split(query, "&")))
    too_many = F.coalesce(n_params > max_query_params, F.lit(False))
    session_junk = F.coalesce(
        query.rlike(r"(?i)(?:^|&)(?:j?sessionid|phpsessid|sid)="),
        F.lit(False),
    )
    non_http = F.coalesce(~url.rlike(r"^https?://"), F.lit(True))
    junk = too_long | too_deep | too_many | session_junk | non_http
    return F.struct(
        too_long.alias("too_long"),
        too_deep.alias("too_deep"),
        too_many.alias("too_many_params"),
        session_junk.alias("session_junk"),
        non_http.alias("non_http"),
        junk.alias("junk"),
    )


def filter_blocked_hosts(
    df: DataFrame,
    blocklist: DataFrame,
    url_col: str = "url",
    hits_broadcast: bool | None = None,
    hits_broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """Drop rows whose host — or any registrable parent domain — appears
    in ``blocklist`` (one ``domain`` column). The blocklist is the small
    side (curated lists are 10^4-10^6 rows): candidate suffixes of each
    URL's host explode map-side (a host has <= ~6 labels) and the drop
    set comes back as one id-free LEFT ANTI join on the suffix — never a
    per-row Python check, never a cross join. At 10^10 URLs the anti
    join's build side is the blocklist (broadcast-eligible; AQE decides).
    """
    host = host_expr(F.col(url_col))
    labels = F.split(host, r"\.")
    n = F.size(labels)
    # suffixes: a.b.c.d -> [a.b.c.d, b.c.d, c.d] (registrable depth >= 2)
    suffixes = F.transform(
        F.sequence(F.lit(1), F.greatest(n - 1, F.lit(1))),
        lambda i: F.concat_ws(".", F.slice(labels, i, n)),
    )
    # VERDICT r4 nit 3 (plan hygiene): the old shape semi-joined the
    # exploded candidates, ran a distinct, then anti-joined back — two
    # url-keyed shuffles of corpus rows. New shape: the hits branch is
    # column-pruned to the url alone (the only double-read is one string
    # column with pushdown, not the corpus rows), the semi join is
    # broadcast (blocklist is the 10^4-10^6-row small side), and the hit
    # set — blocked urls only — broadcasts into the final anti join when
    # small (usual case; ZERO Exchanges on the corpus side, plan-asserted
    # in tests/test_urls.py). The hit set is data-dependent, though: a
    # corpus dominated by blocklisted domains makes it corpus-sized, so
    # the broadcast is gated on a bounded size probe (same pattern as
    # gate_frontier's robots/hosts switches) with a distinct + plain
    # anti-join (AQE decides) fallback. left_anti ignores duplicate build
    # rows, so the broadcast path skips the distinct entirely.
    cand = df.select(url_col).withColumn("_sfx", F.explode(suffixes))
    blocked = cand.join(
        F.broadcast(blocklist.select(F.col("domain").alias("_sfx"))),
        "_sfx",
        "left_semi",
    ).select(url_col)
    if hits_broadcast is None:
        from ..operators.frontier import small_enough_to_broadcast

        hits_broadcast = small_enough_to_broadcast(
            blocked, hits_broadcast_max_rows
        )
    if hits_broadcast:
        return df.join(F.broadcast(blocked), url_col, "left_anti")
    return df.join(blocked.distinct(), url_col, "left_anti")


def mine_blocked_hosts(
    df: DataFrame,
    flag_col: str,
    host_col: str | None = None,
    url_col: str = "url",
    min_docs: int = 20,
    max_flag_frac: float = 0.5,
) -> DataFrame:
    """Mine blocklist CANDIDATES from per-document quality flags — the
    RefinedWeb-style host-level cut: a host whose documents are mostly
    junk (Gopher/C4/soft-404 flags) is cheaper to drop at the frontier
    than to fetch-and-filter forever. Returns (domain, n_docs,
    flag_frac) for hosts with >= ``min_docs`` support and flagged
    fraction > ``max_flag_frac`` — exactly the ``blocklist`` shape
    :func:`filter_blocked_hosts` consumes, closing the feedback loop
    corpus quality -> frontier.

    ONE host-keyed partial-agg shuffle (count + conditional count
    combine map-side); NULL flags count as not-flagged so a host is
    never blocked on missing data. ``min_docs`` is the support gate —
    without it one bad page blocks a one-page host.
    """
    host = (
        F.col(host_col) if host_col is not None else host_expr(F.col(url_col))
    )
    counts = host_flag_counts(df, F.col(flag_col), host)
    return blocked_hosts_from_counts(counts, min_docs, max_flag_frac)


def host_flag_counts(df: DataFrame, flagged: Column, host: Column) -> DataFrame:
    """The counting half of :func:`mine_blocked_hosts`: per-host
    (domain, n_docs, n_flagged) over ``df``'s rows. Rows without a host
    are dropped; NULL flags count as not-flagged. The counts are
    additive, so the crawl loop's blocklist sweep commits them per span
    and sums them later."""
    return (
        df.select(
            host.alias("domain"),
            F.coalesce(flagged, F.lit(False)).alias("_f"),
        )
        .where(F.col("domain").isNotNull() & (F.col("domain") != ""))
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col("_f").cast("long")).alias("n_flagged"),
        )
    )


def blocked_hosts_from_counts(
    counts: DataFrame, min_docs: int = 20, max_flag_frac: float = 0.5
) -> DataFrame:
    """The support/threshold cut over per-host (domain, n_docs,
    n_flagged) counts — ONE shared rule, so the one-shot miner and the
    crawl loop's incremental host_quality partials (plans/round_loop.
    Crawler._mine_host_cut sums additive per-sweep tables) cannot drift.
    Accepts pre-aggregated counts (sums them again, a no-op on already
    per-domain rows) and returns (domain, n_docs, flag_frac)."""
    return (
        counts.groupBy("domain")
        .agg(
            F.sum("n_docs").alias("n_docs"),
            F.round(F.sum("n_flagged") / F.sum("n_docs"), 6).alias(
                "flag_frac"
            ),
        )
        .where(
            (F.col("n_docs") >= min_docs)
            & (F.col("flag_frac") > max_flag_frac)
        )
    )


def url_template_expr(url: Column) -> Column:
    """Collapse a URL to its crawl-trap template (Heritrix/Nutch-style
    URI-uniqueness shape): host + path with long-hex runs -> 'H' and
    digit runs -> 'D' + '?' + the SORTED query key set (values dropped).
    A link-generated trap (calendar pages, session permutations,
    faceted-search grids) emits millions of distinct URLs but only a
    handful of templates — counting URLs per template exposes it.
    Pure JVM expressions, zero shuffle."""
    host = host_expr(url)
    path = F.coalesce(
        F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://[^/]+(/[^?#]*)?", 1),
        F.lit(""),
    )
    shape = F.regexp_replace(path, r"[0-9a-fA-F]{8,}", "H")
    shape = F.regexp_replace(shape, r"[0-9]+", "D")
    query = F.coalesce(F.regexp_extract(url, r"\?([^#]*)", 1), F.lit(""))
    keys = F.when(
        query == "", F.lit("")
    ).otherwise(
        F.concat_ws(
            ",",
            F.array_sort(
                F.transform(
                    F.split(query, "&"),
                    lambda p: F.element_at(F.split(p, "="), 1),
                )
            ),
        )
    )
    return F.concat(host, shape, F.lit("?"), keys)


def path_cycle_count(url: Column) -> Column:
    """Repeated path-segment count: #segments - #distinct segments.
    A symlink/relative-link loop (/a/b/a/b/a/b...) grows this linearly
    while a legitimate deep path stays near 0. Builtin array ops."""
    path = F.coalesce(
        F.regexp_extract(url, r"^[a-z][a-z0-9+.-]*://[^/]+(/[^?#]*)?", 1),
        F.lit(""),
    )
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    return (F.size(segs) - F.size(F.array_distinct(segs))).cast("int")


def calendar_path_expr(url: Column) -> Column:
    """True for date-walk paths (/2024/01/31, /archive/1999/7) — the
    classic infinite-calendar trap shape. Flag is per-URL; it becomes a
    trap signal when its template also explodes in URL count."""
    return F.coalesce(
        F.regexp_extract(
            url, r"^[a-z][a-z0-9+.-]*://[^/]+(/[^?#]*)?", 1
        ).rlike(r"/(19|20)[0-9]{2}/[0-9]{1,2}(/[0-9]{1,2})?(/|$)"),
        F.lit(False),
    )


def detect_url_traps(
    df: DataFrame,
    url_col: str = "url",
    max_template_urls: int = 1000,
    min_cycle_repeats: int = 3,
    calendar_divisor: int = 10,
    hot_broadcast: bool | None = None,
    hot_broadcast_max_rows: int = 2_000_000,
) -> DataFrame:
    """Crawler-trap detection over a frontier/corpus of URLs. Appends
    per-URL columns (template, n_template_urls, path_loop,
    calendar_path, template_explosion, trap):

    - ``path_loop``: >= ``min_cycle_repeats`` repeated path segments
      (link loops) — zero-shuffle array expr.
    - ``template_explosion``: the URL's template carries more than
      ``max_template_urls`` URLs; calendar-shaped templates explode at
      the lower bar ``max_template_urls // calendar_divisor`` (a date
      walk is suspicious far earlier than a product grid).
    - ``trap`` = path_loop OR template_explosion.
    - ``n_template_urls`` is the count for HOT templates (those above
      the lower bar) and NULL for cold ones — the trap decision never
      needs cold counts, and materializing them would force a
      corpus-sized join (below).

    Plan (the 10^10-URL path): template is computed map-side; the only
    shuffle of corpus rows is the (template) count aggregation —
    partial-agg friendly, so the hot keys (exactly the traps) are
    absorbed map-side. The counts table is then FILTERED to over-bar
    templates before joining back: a near-unique corpus makes the full
    counts table corpus-sized, but the over-bar slice is tiny by
    construction (each hot template represents > bar URLs), so the join
    back is a broadcast with no second shuffle of the corpus. The
    broadcast is still gated on a bounded size probe (a pathological
    all-trap corpus could have many hot templates) with a shuffle-join
    fallback. Complements url_quality_flags (per-URL shape junk) and
    the frontier's per-host caps (operators/frontier.py): traps are
    caught even when spread across polite per-round batches.
    """
    u = F.col(url_col)
    low_bar = max(1, max_template_urls // calendar_divisor)
    # drop stale output columns so re-feeding a previous round's output
    # (template/n_template_urls/... already present) can't raise
    # AMBIGUOUS_REFERENCE or silently join on the old template values
    _out_cols = (
        "template", "n_template_urls", "path_loop", "calendar_path",
        "template_explosion", "trap",
    )
    df = df.drop(*[c for c in _out_cols if c in df.columns])
    t = df.withColumn("template", url_template_expr(u))
    hot = (
        t.groupBy("template")
        .agg(F.count(F.lit(1)).alias("n_template_urls"))
        .filter(F.col("n_template_urls") > low_bar)
    )
    if hot_broadcast is None:
        from ..operators.frontier import small_enough_to_broadcast

        hot_broadcast = small_enough_to_broadcast(
            hot, hot_broadcast_max_rows
        )
    out = t.join(
        F.broadcast(hot) if hot_broadcast else hot, "template", "left"
    )
    loop = path_cycle_count(u) >= min_cycle_repeats
    cal = calendar_path_expr(u)
    explode_bar = F.when(cal, F.lit(low_bar)).otherwise(
        F.lit(max_template_urls)
    )
    explosion = F.coalesce(
        F.col("n_template_urls") > explode_bar, F.lit(False)
    )
    return out.select(
        *df.columns,
        "template",
        "n_template_urls",
        loop.alias("path_loop"),
        cal.alias("calendar_path"),
        explosion.alias("template_explosion"),
        (loop | explosion).alias("trap"),
    )
