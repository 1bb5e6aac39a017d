"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship frontier-scheduling round at sf0.001.
``queries()`` exposes one callable per implemented operator family from
SURVEY.md §2 (+ the training-data-pipeline ops); ``oracle_sql()`` gives the
DuckDB-equivalent SQL. Column names/aliases match exactly on both sides;
monetary/aggregate sums use exact DECIMAL arithmetic internally but are
emitted as ROUND()'d DOUBLEs (DECIMAL output columns hash differently across
engines even when values agree — VERDICT r1); timestamps are epoch millis.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _pkg():
    """Import the engine package relative to this file, regardless of CWD."""
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    if here not in sys.path:
        sys.path.insert(0, here)
    import metadata_crawler_spark  # noqa: F401
    from metadata_crawler_spark import session as mcs_session

    return mcs_session


def _prep(spark: SparkSession) -> SparkSession:
    """Re-assert runtime confs + ship the package to workers (the grading
    harness owns the session; see session.tune/ship_package)."""
    return _pkg().tune(spark)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))


def _spread(df: DataFrame) -> DataFrame:
    """Scale-adaptive scan parallelization (r6, guide §2.5 "input skew"):
    a table that arrives as FEWER splits than the cluster has cores (the
    single-small-file case — one 10 MB parquet scans as ONE task no
    matter the core count) serializes every CPU-dense per-row expression
    behind it. Spread it with one round-robin exchange of the pruned
    columns, sized to the default parallelism. Tables that already scan
    wide (the 100 TB many-files case) pass through UNTOUCHED — this is a
    guarded fix for under-split inputs, not a blanket repartition."""
    spark = df.sparkSession
    n = spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < n:
        return df.repartition(n)
    return df


# ---------------------------------------------------------------------------
# q01 flagship — one frontier-scheduling round (SURVEY §2.3 D3/J3, §2.4 O2,
# §2.2 F1): synthesize a deterministic URL frontier from `documents`,
# drop robots-denied hosts, anti-join the seen set, per-host top-k under
# (depth ASC, score DESC, url ASC) with per-host budgets.
# ---------------------------------------------------------------------------

def q01_frontier_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from metadata_crawler_spark.operators.frontier import per_host_topk

    d = _t(spark, sf_dir, "documents")
    f = d.select(
        F.concat(
            F.lit("https://h"), (F.col("doc_id") % 97).cast("string"),
            F.lit(".example.com/"), F.col("source"), F.lit("/"),
            F.col("doc_id").cast("string"),
        ).alias("url"),
        (F.col("doc_id") % 97).alias("hostnum"),
        F.concat(
            F.lit("h"), (F.col("doc_id") % 97).cast("string"), F.lit(".example.com")
        ).alias("host"),
        (F.col("doc_id") % 4).cast("int").alias("depth"),
        (((F.col("doc_id") * 2654435761) % 1000) / 1000.0).alias("score"),
        F.col("doc_id"),
    )
    # robots: hosts with hostnum % 11 == 0 deny everything
    f = f.filter(F.col("hostnum") % 11 != 0)
    # seen set: every doc_id % 7 == 0 was already crawled. r6 (guide
    # §2.4 "remove shuffles outright"): the synthetic seen-set's url
    # embeds its doc_id and doc_id is unique in `documents`, so
    # "url IN seen-urls" is algebraically "doc_id % 7 == 0" — the
    # left_anti join (a second documents scan + a BroadcastExchange
    # build job per run) reduces to a pushed-down filter with an
    # identical result (oracle-hash-verified; the production anti-join
    # operator stays covered by q05/dedup_against_seen).
    f = f.filter(F.col("doc_id") % 7 != 0)
    # per-host budget from hostnum
    f = f.withColumn(
        "budget",
        F.when(F.col("hostnum") % 3 == 0, 2)
        .when(F.col("hostnum") % 3 == 1, 8)
        .otherwise(32),
    )
    out = per_host_topk(f, "budget", salt_parts=4)
    return out.select(
        "url", "host", F.col("depth").cast("long").alias("depth"),
        F.round("score", 6).alias("score"), F.col("rank").cast("long").alias("rank"),
    )


_Q01_SQL = """
WITH f AS (
  SELECT 'https://h' || (doc_id % 97) || '.example.com/' || source || '/' || doc_id AS url,
         (doc_id % 97) AS hostnum,
         'h' || (doc_id % 97) || '.example.com' AS host,
         (doc_id % 4) AS depth,
         ((doc_id * 2654435761) % 1000) / 1000.0 AS score,
         doc_id
  FROM documents
), gated AS (
  SELECT * FROM f
  WHERE hostnum % 11 <> 0
    AND url NOT IN (
      SELECT 'https://h' || (doc_id % 97) || '.example.com/' || source || '/' || doc_id
      FROM documents WHERE doc_id % 7 = 0)
), budgeted AS (
  SELECT *, CASE WHEN hostnum % 3 = 0 THEN 2
                 WHEN hostnum % 3 = 1 THEN 8 ELSE 32 END AS budget,
         ROW_NUMBER() OVER (PARTITION BY host
                            ORDER BY depth ASC, score DESC, url ASC) AS rank
  FROM gated
)
SELECT url, host, depth, ROUND(score, 6) AS score, rank
FROM budgeted WHERE rank <= budget
"""


# ---------------------------------------------------------------------------
# q02 — URL canonicalization + crawler-trap detection family (SURVEY §2.5
# P14 + the Heritrix/Nutch trap heuristics). Oracle constructs the expected
# canonical form directly (ground truth) and re-implements the template /
# loop / calendar trap logic in SQL over the same canonical URLs. Planted:
# a calendar-walk trap (one hot date template, ~1/7 of docs) and a link
# loop (/a/b repeated, ~1/13 of docs); the messy-URL population stays cold.
# ---------------------------------------------------------------------------

def q02_url_canonicalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from metadata_crawler_spark.functions.urls import (
        canonicalize_expr,
        detect_url_traps,
    )

    d = _t(spark, sf_dir, "documents")
    messy = d.select(
        "doc_id",
        F.when(
            F.col("doc_id") % 4 == 0,
            F.concat(F.lit("HTTP://H"), (F.col("doc_id") % 50).cast("string"),
                     F.lit(".EXAMPLE.COM:80/"), F.col("source"),
                     F.lit("?b=2&a="), (F.col("doc_id") % 7).cast("string"),
                     F.lit("#x")),
        )
        .when(
            F.col("doc_id") % 4 == 1,
            F.concat(F.lit("https://h"), (F.col("doc_id") % 50).cast("string"),
                     F.lit(".example.com")),
        )
        .when(
            F.col("doc_id") % 4 == 2,
            F.concat(F.lit("HTTPS://h"), (F.col("doc_id") % 50).cast("string"),
                     F.lit(".Example.com:443/"), F.col("source"), F.lit("/"),
                     F.col("lang")),
        )
        .otherwise(
            F.concat(F.lit("https://h"), (F.col("doc_id") % 50).cast("string"),
                     F.lit(".example.com/"), F.col("lang"),
                     F.lit("?z=9&y=8&x="), (F.col("doc_id") % 5).cast("string")),
        )
        .alias("raw_url"),
    )
    cal = d.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"),
        F.concat(
            F.lit("https://trap.example/2021/"),
            (1 + F.col("doc_id") % 12).cast("string"),
            F.lit("/"),
            (1 + F.col("doc_id") % 28).cast("string"),
        ).alias("raw_url"),
    )
    loop = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + 20_000_000).alias("doc_id"),
        F.lit("https://loop.example/a/b/a/b/a/b").alias("raw_url"),
    )
    urls = messy.unionByName(cal).unionByName(loop)
    canon = urls.select(
        "doc_id", "raw_url", canonicalize_expr(F.col("raw_url")).alias("canon_url")
    )
    traps = detect_url_traps(
        canon, url_col="canon_url", max_template_urls=40, calendar_divisor=4
    ).select(
        F.lit("trap").alias("kind"),
        "doc_id",
        F.col("raw_url").alias("url"),
        F.col("canon_url").alias("url2"),
        F.col("template").alias("tmpl"),
        F.col("n_template_urls").cast("long").alias("n1"),
        F.col("path_loop").alias("f1"),
        F.col("calendar_path").alias("f2"),
        F.col("template_explosion").alias("f3"),
        F.col("trap").alias("f4"),
    )
    # r5 family merge: redirect-chain resolution (the third URL-identity
    # stage — operators/redirects.resolve_redirects, fixed-round pointer
    # doubling) over a deterministic functional graph: within each block
    # of 8 ids, u{d} redirects down to u{d-1} (chains of length d%8);
    # every 96th block head closes a 2-cycle with its successor, so its
    # whole block enters a loop and must flag unresolved.
    from metadata_crawler_spark.operators.redirects import resolve_redirects

    ru = F.concat(F.lit("https://r.example/"), F.col("doc_id").cast("string"))
    rt = F.concat(
        F.lit("https://r.example/"), (F.col("doc_id") - 1).cast("string")
    )
    rc = F.concat(
        F.lit("https://r.example/"), (F.col("doc_id") + 1).cast("string")
    )
    edges = (
        d.filter(F.col("doc_id") % 8 != 0)
        .select(ru.alias("url"), rt.alias("target"))
        .unionByName(
            d.filter((F.col("doc_id") % 96 == 0) & (F.col("doc_id") > 0))
            .select(ru.alias("url"), rc.alias("target"))
        )
    )
    redirects = resolve_redirects(edges, max_hops=16).select(
        F.lit("redirect").alias("kind"),
        F.lit(None).cast("long").alias("doc_id"),
        "url",
        F.col("final_url").alias("url2"),
        F.lit(None).cast("string").alias("tmpl"),
        F.col("n_hops").alias("n1"),
        F.col("looped").alias("f1"),
        # FALSE (not NULL) fillers: a NULL boolean reaches pandas as None
        # from Spark but NaN from DuckDB, so the driver's value compare
        # would flag identical unions; the flags are trap-only anyway.
        F.lit(False).alias("f2"),
        F.lit(False).alias("f3"),
        F.lit(False).alias("f4"),
    )
    # r5 family merge: PSL registered-domain extraction (the politeness/
    # budget grouping key — functions/domains.registered_domain_join,
    # longest-suffix-match against the builtin plain-rule table) over a
    # deterministic host lattice covering multi-level ccTLDs, private
    # registries, the implicit default, suffix==host, and IPv4 literals.
    from metadata_crawler_spark.functions.domains import (
        registered_domain_join,
        suffix_table,
    )

    hid = (F.col("doc_id") % 30).cast("string")
    rd_src = d.filter(F.col("doc_id") % 11 == 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0,
            F.concat(F.lit("www.site"), hid, F.lit(".co.uk")),
        )
        .when(
            F.col("doc_id") % 5 == 1,
            F.concat(F.lit("blog"), hid, F.lit(".example.com")),
        )
        .when(
            F.col("doc_id") % 5 == 2,
            F.concat(F.lit("u"), hid, F.lit(".github.io")),
        )
        .when(
            F.col("doc_id") % 5 == 3,
            F.concat(F.lit("a.b.site"), hid, F.lit(".com.au")),
        )
        .otherwise(
            F.when(
                F.col("doc_id") % 2 == 0,
                F.concat(F.lit("10.0.0."), (F.col("doc_id") % 9).cast("string")),
            ).otherwise(F.lit("github.io"))
        )
        .alias("host"),
    )
    regd = registered_domain_join(
        rd_src, suffix_table(spark), host_col="host"
    ).select(
        F.lit("regdomain").alias("kind"),
        (F.col("doc_id") + 30_000_000).alias("doc_id"),
        F.col("host").alias("url"),
        F.col("reg_domain").alias("url2"),
        F.lit(None).cast("string").alias("tmpl"),
        F.lit(None).cast("long").alias("n1"),
        F.lit(False).alias("f1"),
        F.lit(False).alias("f2"),
        F.lit(False).alias("f3"),
        F.lit(False).alias("f4"),
    )
    return traps.unionByName(redirects).unionByName(regd)


_Q02_SQL = """
WITH RECURSIVE urls AS (
  SELECT doc_id,
    CASE
      WHEN doc_id % 4 = 0 THEN 'HTTP://H' || (doc_id % 50) || '.EXAMPLE.COM:80/' || source || '?b=2&a=' || (doc_id % 7) || '#x'
      WHEN doc_id % 4 = 1 THEN 'https://h' || (doc_id % 50) || '.example.com'
      WHEN doc_id % 4 = 2 THEN 'HTTPS://h' || (doc_id % 50) || '.Example.com:443/' || source || '/' || lang
      ELSE 'https://h' || (doc_id % 50) || '.example.com/' || lang || '?z=9&y=8&x=' || (doc_id % 5)
    END AS raw_url,
    CASE
      WHEN doc_id % 4 = 0 THEN 'http://h' || (doc_id % 50) || '.example.com/' || source || '?a=' || (doc_id % 7) || '&b=2'
      WHEN doc_id % 4 = 1 THEN 'https://h' || (doc_id % 50) || '.example.com/'
      WHEN doc_id % 4 = 2 THEN 'https://h' || (doc_id % 50) || '.example.com/' || source || '/' || lang
      ELSE 'https://h' || (doc_id % 50) || '.example.com/' || lang || '?x=' || (doc_id % 5) || '&y=8&z=9'
    END AS canon_url
  FROM documents
  UNION ALL
  SELECT doc_id + 10000000 AS doc_id,
    'https://trap.example/2021/' || (1 + doc_id % 12) || '/' || (1 + doc_id % 28) AS raw_url,
    'https://trap.example/2021/' || (1 + doc_id % 12) || '/' || (1 + doc_id % 28) AS canon_url
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 20000000 AS doc_id,
    'https://loop.example/a/b/a/b/a/b' AS raw_url,
    'https://loop.example/a/b/a/b/a/b' AS canon_url
  FROM documents WHERE doc_id % 13 = 0
), parts AS (
  SELECT *,
    lower(regexp_extract(canon_url, '^[A-Za-z][A-Za-z0-9+.\\-]*://(?:[^@/]*@)?([^:/?#]*)', 1)) AS host,
    coalesce(regexp_extract(canon_url, '^[a-z][a-z0-9+.-]*://[^/]+(/[^?#]*)?', 1), '') AS path,
    coalesce(regexp_extract(canon_url, '\\?([^#]*)', 1), '') AS query
  FROM urls
), tmpl AS (
  SELECT *,
    host || regexp_replace(regexp_replace(path, '[0-9a-fA-F]{8,}', 'H', 'g'), '[0-9]+', 'D', 'g') || '?' ||
      CASE WHEN query = '' THEN ''
           ELSE array_to_string(list_sort(list_transform(string_split(query, '&'), p -> string_split(p, '=')[1])), ',')
      END AS template,
    len(list_filter(string_split(path, '/'), s -> s <> ''))
      - len(list_distinct(list_filter(string_split(path, '/'), s -> s <> ''))) AS n_rep,
    regexp_matches(path, '/(19|20)[0-9]{2}/[0-9]{1,2}(/[0-9]{1,2})?(/|$)') AS calendar_path
  FROM parts
), counted AS (
  SELECT *, COUNT(*) OVER (PARTITION BY template) AS cnt FROM tmpl
), redges AS (
  SELECT url, min(target) AS target FROM (
    SELECT 'https://r.example/' || doc_id AS url,
           'https://r.example/' || (doc_id - 1) AS target
    FROM documents WHERE doc_id % 8 <> 0
    UNION ALL
    SELECT 'https://r.example/' || doc_id,
           'https://r.example/' || (doc_id + 1)
    FROM documents WHERE doc_id % 96 = 0 AND doc_id > 0
  ) GROUP BY url
), rwalk(url, cur, hops) AS (
  SELECT url, target, 1 FROM redges
  UNION ALL
  SELECT w.url, e.target, w.hops + 1
  FROM rwalk w JOIN redges e ON w.cur = e.url WHERE w.hops < 16
), rfinal AS (
  SELECT url, arg_max(cur, hops) AS cur, max(hops) AS hops
  FROM rwalk GROUP BY url
), rdh AS (
  SELECT doc_id,
    CASE
      WHEN doc_id % 5 = 0 THEN 'www.site' || (doc_id % 30) || '.co.uk'
      WHEN doc_id % 5 = 1 THEN 'blog' || (doc_id % 30) || '.example.com'
      WHEN doc_id % 5 = 2 THEN 'u' || (doc_id % 30) || '.github.io'
      WHEN doc_id % 5 = 3 THEN 'a.b.site' || (doc_id % 30) || '.com.au'
      WHEN doc_id % 2 = 0 THEN '10.0.0.' || (doc_id % 9)
      ELSE 'github.io'
    END AS host
  FROM documents WHERE doc_id % 11 = 0
), rdp AS (
  SELECT doc_id, host, string_split(host, '.') AS parts FROM rdh
), rdc AS (
  SELECT doc_id,
    unnest([array_to_string(parts[i:], '.') FOR i IN range(1, len(parts) + 1)]) AS sfx
  FROM rdp
), rdhit AS (
  SELECT c.doc_id, MAX(s.n_labels) AS psn
  FROM rdc c JOIN (VALUES __RD_SUFFIX_VALUES__) s(suffix, n_labels)
    ON c.sfx = s.suffix
  GROUP BY 1
), rdfin AS (
  SELECT p.doc_id, p.host, p.parts,
         COALESCE(h.psn, 1) AS psn, len(p.parts) AS nj
  FROM rdp p LEFT JOIN rdhit h ON p.doc_id = h.doc_id
)
SELECT 'trap' AS kind, doc_id, raw_url AS url, canon_url AS url2,
  template AS tmpl,
  CAST(CASE WHEN cnt > 10 THEN cnt END AS BIGINT) AS n1,
  n_rep >= 3 AS f1,
  calendar_path AS f2,
  COALESCE(CASE WHEN cnt > 10 THEN cnt END
             > CASE WHEN calendar_path THEN 10 ELSE 40 END, FALSE) AS f3,
  (n_rep >= 3) OR COALESCE(CASE WHEN cnt > 10 THEN cnt END
             > CASE WHEN calendar_path THEN 10 ELSE 40 END, FALSE) AS f4
FROM counted
UNION ALL
SELECT 'redirect', CAST(NULL AS BIGINT), f.url,
  CASE WHEN s.url IS NULL THEN f.cur END,
  CAST(NULL AS VARCHAR),
  CAST(CASE WHEN s.url IS NULL THEN f.hops END AS BIGINT),
  s.url IS NOT NULL,
  FALSE, FALSE, FALSE
FROM rfinal f LEFT JOIN redges s ON f.cur = s.url
UNION ALL
SELECT 'regdomain', doc_id + 30000000, host,
  CASE WHEN regexp_matches(host, '^[a-z0-9_-]+(\\.[a-z0-9_-]+)+$')
        AND NOT regexp_matches(host, '^\\d{1,3}(\\.\\d{1,3}){3}$')
        AND nj > psn
       THEN array_to_string(parts[nj - psn:], '.') END,
  CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), FALSE, FALSE, FALSE, FALSE
FROM rdfin
"""

# the oracle's rule table is generated from the SAME builtin plain-rule
# set the Spark side joins against — one source of truth.
def _rd_suffix_values() -> str:
    import sys

    here = os.path.dirname(os.path.abspath(__file__))
    if here not in sys.path:
        sys.path.insert(0, here)
    from metadata_crawler_spark.functions.domains import compile_rules

    plain = sorted(compile_rules()[0])
    return ", ".join(f"('{s}', {len(s.split('.'))})" for s in plain)


_Q02_SQL = _Q02_SQL.replace("__RD_SUFFIX_VALUES__", _rd_suffix_values())


# ---------------------------------------------------------------------------
# q03 — exact dedup (hash-groupBy; SURVEY §2.3 D1). Corpus = documents plus
# a shifted duplicate of every 3rd doc; representative = min id per content
# hash (deterministic), exactly the unique-index upsert semantics.
# ---------------------------------------------------------------------------

def q03_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-identity family (r5 merge): 'exact' rows — hash-groupBy
    exact dedup (unchanged); 'mirror' rows — cross-host mirror detection
    (operators/mirrors.detect_mirrors: distinct (host, content-hash),
    count-first boilerplate cap, map-side pair explode, containment =
    shared / min(|A|,|B|)) over a deterministic host/content lattice
    (host = doc_id%20, content class = doc_id%97 — 97 coprime to 20
    spreads each content class across hosts). The oracle replicates the
    mirror semantics on content equality directly (hash values never
    leave the plan). r5 continuation adds 'dust' rows — DUST rewrite-rule
    mining (operators/dust.mine_dust_rules, Bar-Yossef et al. 2007) over
    a synthesized alias corpus: every doc gets a canonical URL, %3 docs
    an '-amp' path alias, %5 docs a '?print=1' alias, all sharing the
    doc's content key; the two planted rules must come back with exact
    support/applications/valid/precision (the DuckDB twin recomputes
    lcp/lcs diffs via correlated generate_series subqueries). r5
    continuation adds 'trap' rows — crawler-trap detection
    (operators/traps.detect_trap_hosts) over a synthesized corpus with
    a calendar trap (one shape, one content), a session-id maze (one
    shape, all-distinct content) and 11 healthy hosts; the oracle
    derives the expected url shapes/novelty from doc_id arithmetic and
    replicates the support + novelty/concentration thresholds.
    r5 continuation adds 'best' rows — the keep-best representative
    policy (operators/dedup.best_per_group, one min(struct(-score, id))
    shuffle): per content hash the HIGHEST-quality member survives
    (quality = doc_id % 7, deterministic; ties -> min id), the policy
    clean_corpus(keep_best_col=...) applies at every content-identity
    stage; the oracle recomputes the argmax via a ROW_NUMBER window.
    Tagged union (kind, k1, k2, n1, n2, n3, v)."""
    _prep(spark)
    from metadata_crawler_spark.operators.dedup import best_per_group
    from metadata_crawler_spark.operators.dust import mine_dust_rules
    from metadata_crawler_spark.operators.mirrors import detect_mirrors

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 3 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    corpus = d.unionByName(dups)
    best = best_per_group(
        corpus.withColumn("h", F.md5("text")).withColumn(
            "q", (F.col("doc_id") % 7).cast("double")
        ),
        "h", "doc_id", "q",
    ).select(
        F.lit("best").alias("kind"),
        F.col("h").alias("k1"),
        F.lit(None).cast("string").alias("k2"),
        F.col("doc_id").alias("n1"),
        F.lit(None).cast("long").alias("n2"),
        F.lit(None).cast("long").alias("n3"),
        F.col("q").alias("v"),
    )
    exact = (
        corpus.groupBy(F.md5("text").alias("content_hash"))
        .agg(F.min("doc_id").alias("rep_id"), F.count("*").alias("n_copies"))
        .select(
            F.lit("exact").alias("kind"),
            F.col("content_hash").alias("k1"),
            F.lit(None).cast("string").alias("k2"),
            F.col("rep_id").alias("n1"),
            F.col("n_copies").alias("n2"),
            F.lit(None).cast("long").alias("n3"),
            F.lit(None).cast("double").alias("v"),
        )
    )
    lattice = d.select(
        F.concat(F.lit("h"), (F.col("doc_id") % 20).cast("string")).alias("host"),
        F.concat(F.lit("c"), (F.col("doc_id") % 97).cast("string")).alias("content"),
    )
    mirrors = detect_mirrors(
        lattice, host_col="host", content_col="content",
        min_shared=2, min_containment=0.05,
    ).select(
        F.lit("mirror").alias("kind"),
        F.col("host_a").alias("k1"),
        F.col("host_b").alias("k2"),
        F.col("shared").alias("n1"),
        F.col("n_a").alias("n2"),
        F.col("n_b").alias("n3"),
        F.col("containment").alias("v"),
    )
    canon = d.select(
        F.concat(
            F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".ex.com/article/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(F.lit("c"), F.col("doc_id").cast("string")).alias("h"),
    )
    amp = d.filter(F.col("doc_id") % 3 == 0).select(
        F.concat(
            F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".ex.com/article-amp/"), F.col("doc_id").cast("string"),
        ).alias("url"),
        F.concat(F.lit("c"), F.col("doc_id").cast("string")).alias("h"),
    )
    prn = d.filter(F.col("doc_id") % 5 == 0).select(
        F.concat(
            F.lit("http://h"), (F.col("doc_id") % 7).cast("string"),
            F.lit(".ex.com/article/"), F.col("doc_id").cast("string"),
            F.lit("?print=1"),
        ).alias("url"),
        F.concat(F.lit("c"), F.col("doc_id").cast("string")).alias("h"),
    )
    dust = mine_dust_rules(
        canon.unionByName(amp).unionByName(prn),
        hash_col="h", min_support=3, min_precision=0.8,
    ).select(
        F.lit("dust").alias("kind"),
        F.col("alpha").alias("k1"),
        F.col("beta").alias("k2"),
        F.col("support").alias("n1"),
        F.col("applications").alias("n2"),
        F.col("valid").alias("n3"),
        F.col("precision").alias("v"),
    )
    from metadata_crawler_spark.operators.traps import detect_trap_hosts

    did = F.col("doc_id")
    seg = F.element_at(
        F.array(*[F.lit(c) for c in "abcde"]), (did % 5 + 1).cast("int")
    )
    trap_corpus = d.select(
        F.when(
            did % 4 == 0,
            F.concat(
                F.lit("https://trap.ex/cal?y="),
                F.floor(did / 12).cast("string"),
                F.lit("&m="), (did % 12).cast("string"),
            ),
        )
        .when(
            did % 4 == 2,
            F.concat(F.lit("https://maze.ex/p?sid="), did.cast("string")),
        )
        .otherwise(
            F.concat(
                F.lit("https://h"), (did % 11).cast("string"),
                F.lit(".ex/"), seg, F.lit("/"), did.cast("string"),
            )
        )
        .alias("url"),
        F.when(did % 4 == 0, F.lit("same page"))
        .otherwise(F.concat(F.lit("c"), did.cast("string")))
        .alias("content"),
    )
    traps = (
        detect_trap_hosts(trap_corpus, content_col="content", min_urls=20)
        .filter("trap")
        .select(
            F.lit("trap").alias("kind"),
            F.col("domain").alias("k1"),
            F.col("top_template").alias("k2"),
            F.col("n_urls").alias("n1"),
            F.col("n_content").alias("n2"),
            F.col("top_template_n").alias("n3"),
            F.col("novelty_frac").alias("v"),
        )
    )
    return (
        exact.unionByName(best).unionByName(mirrors)
        .unionByName(dust).unionByName(traps)
    )


_Q03_SQL = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 3 = 0
), m AS (
  SELECT DISTINCT 'h' || (doc_id % 20) AS host, 'c' || (doc_id % 97) AS content
  FROM documents
), elig AS (
  SELECT content FROM m GROUP BY content HAVING COUNT(*) BETWEEN 2 AND 8
), pr AS (
  SELECT a.host AS host_a, b.host AS host_b, COUNT(*) AS shared
  FROM m a JOIN m b USING (content) JOIN elig USING (content)
  WHERE a.host < b.host
  GROUP BY 1, 2
), sz AS (
  SELECT host, COUNT(*) AS n FROM m GROUP BY host
)
SELECT 'exact' AS kind, md5(text) AS k1, CAST(NULL AS VARCHAR) AS k2,
       MIN(doc_id) AS n1, COUNT(*) AS n2, CAST(NULL AS BIGINT) AS n3,
       CAST(NULL AS DOUBLE) AS v
FROM corpus GROUP BY md5(text)
UNION ALL
SELECT 'best', h, CAST(NULL AS VARCHAR), doc_id, CAST(NULL AS BIGINT),
       CAST(NULL AS BIGINT), CAST(doc_id % 7 AS DOUBLE)
FROM (
  SELECT md5(text) AS h, doc_id,
         ROW_NUMBER() OVER (PARTITION BY md5(text)
                            ORDER BY (doc_id % 7) DESC, doc_id ASC) AS rn
  FROM corpus
) WHERE rn = 1
UNION ALL
SELECT 'mirror', host_a, host_b, shared, sa.n, sb.n,
       ROUND(shared / LEAST(sa.n, sb.n), 6)
FROM pr JOIN sz sa ON pr.host_a = sa.host JOIN sz sb ON pr.host_b = sb.host
WHERE shared >= 2 AND ROUND(shared / LEAST(sa.n, sb.n), 6) >= 0.05
UNION ALL
SELECT 'dust', alpha, beta, support, applications, valid,
       ROUND(valid / applications, 6)
FROM (
  WITH du AS (
    SELECT 'http://h' || (doc_id % 7) || '.ex.com/article/' || doc_id AS url,
           'c' || doc_id AS h
    FROM documents
    UNION ALL
    SELECT 'http://h' || (doc_id % 7) || '.ex.com/article-amp/' || doc_id,
           'c' || doc_id
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT 'http://h' || (doc_id % 7) || '.ex.com/article/' || doc_id
             || '?print=1',
           'c' || doc_id
    FROM documents WHERE doc_id % 5 = 0
  ), grp AS (
    SELECT url, h,
           COUNT(*) OVER (PARTITION BY h) AS n_grp,
           FIRST_VALUE(url) OVER (
             PARTITION BY h ORDER BY LENGTH(url), url) AS rep
    FROM du
  ), prs AS (
    SELECT url, rep FROM grp WHERE n_grp BETWEEN 2 AND 50 AND url <> rep
  ), dp AS (
    SELECT url, rep,
      (SELECT COALESCE(MAX(i), 0)
         FROM generate_series(1, 200) t(i)
        WHERE i <= LEAST(LENGTH(url), LENGTH(rep))
          AND SUBSTR(url, 1, CAST(i AS INT)) = SUBSTR(rep, 1, CAST(i AS INT))
      ) AS lcp
    FROM prs
  ), ds AS (
    SELECT url, rep, lcp,
      (SELECT COALESCE(MAX(i), 0)
         FROM generate_series(1, 200) t(i)
        WHERE i <= LEAST(LENGTH(url), LENGTH(rep)) - lcp
          AND RIGHT(url, CAST(i AS INT)) = RIGHT(rep, CAST(i AS INT))
      ) AS lcs
    FROM dp
  ), cand AS (
    SELECT SUBSTR(url, CAST(lcp + 1 AS INT),
                  CAST(LENGTH(url) - lcp - lcs AS INT)) AS alpha,
           SUBSTR(rep, CAST(lcp + 1 AS INT),
                  CAST(LENGTH(rep) - lcp - lcs AS INT)) AS beta
    FROM ds
  ), rules AS (
    SELECT alpha, beta, COUNT(*) AS support FROM cand
    WHERE LENGTH(alpha) BETWEEN 1 AND 40 AND LENGTH(beta) <= 40
    GROUP BY 1, 2 HAVING COUNT(*) >= 3
  ), apps AS (
    SELECT r.alpha, r.beta, r.support, u.h,
           REPLACE(u.url, r.alpha, r.beta) AS rew
    FROM rules r JOIN du u ON POSITION(r.alpha IN u.url) > 0
  )
  SELECT a.alpha, a.beta, ANY_VALUE(a.support) AS support,
         COUNT(*) AS applications,
         SUM(CASE WHEN t.h = a.h THEN 1 ELSE 0 END) AS valid
  FROM apps a LEFT JOIN du t ON t.url = a.rew
  GROUP BY a.alpha, a.beta
)
WHERE ROUND(valid / applications, 6) >= 0.8
UNION ALL
SELECT 'trap', domain, top_shape, n_urls, n_content, top_n,
       ROUND(n_content * 1.0 / n_urls, 6)
FROM (
  WITH tu AS (
    SELECT CASE WHEN doc_id % 4 = 0 THEN 'trap.ex'
                WHEN doc_id % 4 = 2 THEN 'maze.ex'
                ELSE 'h' || (doc_id % 11) || '.ex' END AS domain,
           CASE WHEN doc_id % 4 = 0 THEN 'trap.ex/cal?m,y'
                WHEN doc_id % 4 = 2 THEN 'maze.ex/p?sid'
                ELSE 'h' || (doc_id % 11) || '.ex/' || CASE (doc_id % 5)
                       WHEN 0 THEN 'a' WHEN 1 THEN 'b' WHEN 2 THEN 'c'
                       WHEN 3 THEN 'd' ELSE 'e' END || '/D?' END AS shape,
           CASE WHEN doc_id % 4 = 0 THEN 'same page'
                ELSE 'c' || doc_id END AS content
    FROM documents
  ), sc AS (
    SELECT domain, shape, COUNT(*) AS n FROM tu GROUP BY 1, 2
  ), top AS (
    SELECT domain, shape AS top_shape, n AS top_n
    FROM (SELECT domain, shape, n,
                 ROW_NUMBER() OVER (PARTITION BY domain
                                    ORDER BY n DESC, shape DESC) AS rn
          FROM sc) WHERE rn = 1
  ), agg AS (
    SELECT domain, SUM(n)::BIGINT AS n_urls FROM sc GROUP BY domain
  ), nov AS (
    SELECT domain, COUNT(DISTINCT content)::BIGINT AS n_content
    FROM tu GROUP BY domain
  )
  SELECT a.domain, t.top_shape, a.n_urls, nv.n_content, t.top_n
  FROM agg a JOIN top t USING (domain) JOIN nov nv ON nv.domain = a.domain
  WHERE a.n_urls >= 20 AND (
        ROUND(nv.n_content * 1.0 / a.n_urls, 6) <= 0.2
     OR ROUND(t.top_n * 1.0 / a.n_urls, 6) >= 0.8)
)
"""


# ---------------------------------------------------------------------------
# q04 — latest-vs-all versioning (SURVEY §2.4 O1): newest event per user.
# ---------------------------------------------------------------------------

def q04_latest_version(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from metadata_crawler_spark.operators.versioning import latest_per_key

    e = _t(spark, sf_dir, "events")
    latest = latest_per_key(e, "user_id", "ts", tiebreak="event_id")
    return latest.select(
        "user_id",
        F.col("event_id").alias("latest_event_id"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("latest_ts_ms"),
        "event_type",
    )


_Q04_SQL = """
SELECT user_id, event_id AS latest_event_id, epoch_ms(ts) AS latest_ts_ms, event_type
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                                   ORDER BY ts DESC, event_id ASC) rn FROM events)
WHERE rn = 1
"""


# ---------------------------------------------------------------------------
# q05 — seen-set anti-join (SURVEY §2.7 J3): orders whose customer is NOT in
# the "seen" set (negative balance), counted per priority.
# ---------------------------------------------------------------------------

def q05_seen_antijoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    seen = c.filter(F.col("c_acctbal") < 0).select(F.col("c_custkey"))
    new = o.join(seen, o["o_custkey"] == seen["c_custkey"], "left_anti")
    # exact decimal arithmetic inside, double representation outside: the
    # driver's value-hash diverges on DECIMAL rendering, not math (VERDICT r1)
    return new.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"), 2
        ).alias("total_price"),
    )


_Q05_SQL = """
SELECT o_orderpriority, COUNT(*) AS n_orders,
       ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_price
FROM orders
WHERE o_custkey NOT IN (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
GROUP BY o_orderpriority
"""


# ---------------------------------------------------------------------------
# q06 — broadcast lookup join (SURVEY §2.7 J1, the CMOR-table analog):
# revenue per brand via lineitem x broadcast(part).
# ---------------------------------------------------------------------------

def q06_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    # r6 note (measured, BASELINE.md r6): the whole 0.9 s wall is the
    # per-row double->DECIMAL(18,4) quantization (oracle-mandated exact
    # sum) running in the table's single scan split. A spreading
    # repartition was tried (hash and round-robin) and REVERTED: at this
    # sf the 600k-row exchange costs what the parallel decimal sum saves
    # (0.95-1.05 s vs 0.85-0.9 s); at cluster scale the table arrives as
    # many splits and parallelizes without any exchange.
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    j = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"], "inner")
    return j.groupBy("p_brand").agg(
        F.count("*").alias("n_lines"),
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,4)")
            ).cast("double"),
            4,
        ).alias("revenue"),
    )


_Q06_SQL = """
SELECT p_brand, COUNT(*) AS n_lines,
       ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS DOUBLE), 4) AS revenue
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_brand
"""


# ---------------------------------------------------------------------------
# q07 — epoch-watermark stale sweep (SURVEY §2.3 D4): keep events within the
# 30-day grace window of the max timestamp; count survivors per type.
# ---------------------------------------------------------------------------

def q07_stale_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    e = _t(spark, sf_dir, "events")
    wm = e.select(
        (F.max(F.col("ts").cast("timestamp")) - F.expr("INTERVAL 30 DAYS")).alias("wm")
    )
    kept = e.join(F.broadcast(wm)).filter(F.col("ts").cast("timestamp") >= F.col("wm"))
    return kept.groupBy("event_type").agg(
        F.count("*").alias("n_kept"),
        F.min(F.unix_millis(F.col("ts").cast("timestamp"))).alias("min_ts_ms"),
    )


_Q07_SQL = """
SELECT event_type, COUNT(*) AS n_kept, MIN(epoch_ms(ts)) AS min_ts_ms
FROM events
WHERE ts >= (SELECT MAX(ts) - INTERVAL 30 DAY FROM events)
GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q08 — version ranking (SURVEY §2.4 O1, descending version sort): rank each
# order's lines newest-shipdate-first; rank 0 feeds the `latest` index.
# ---------------------------------------------------------------------------

def q08_version_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from pyspark.sql import Window as W

    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 500)
    # tiebreak linenumber: make the ordering total
    ranked = li.withColumn(
        "version_rank",
        F.row_number().over(
            W.partitionBy("l_orderkey").orderBy(
                F.col("l_shipdate").desc(), F.col("l_linenumber").asc()
            )
        )
        - 1,
    )
    return ranked.select(
        "l_orderkey", "l_linenumber",
        F.col("version_rank").cast("long").alias("version_rank"),
        (F.col("version_rank") == 0).alias("is_latest"),
    )


_Q08_SQL = """
SELECT l_orderkey, l_linenumber,
       (ROW_NUMBER() OVER (PARTITION BY l_orderkey
                           ORDER BY l_shipdate DESC, l_linenumber ASC) - 1)
         AS version_rank,
       (ROW_NUMBER() OVER (PARTITION BY l_orderkey
                           ORDER BY l_shipdate DESC, l_linenumber ASC) - 1) = 0
         AS is_latest
FROM lineitem WHERE l_orderkey < 500
"""


# ---------------------------------------------------------------------------
# q09 — path-spec parse (SURVEY §2.5 P1/P3): split a synthesized path into
# facet components + extension pseudo-facet.
# ---------------------------------------------------------------------------

def q09_path_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    d = _t(spark, sf_dir, "documents")
    path = F.concat(
        F.lit("/data/"), F.col("source"), F.lit("/"), F.col("lang"), F.lit("/doc_"),
        F.col("doc_id").cast("string"), F.lit(".html"),
    )
    parts = F.split(path, "/")
    fname = F.element_at(parts, -1)
    return d.select(
        "doc_id",
        path.alias("path"),
        F.element_at(parts, 3).alias("facet_source"),
        F.element_at(parts, 4).alias("facet_lang"),
        F.element_at(F.split(fname, r"\."), 1).alias("facet_stem"),
        F.element_at(F.split(fname, r"\."), -1).alias("facet_fmt"),
    )


_Q09_SQL = """
WITH p AS (
  SELECT doc_id,
         '/data/' || source || '/' || lang || '/doc_' || doc_id || '.html' AS path
  FROM documents
)
SELECT doc_id, path,
       string_split(path, '/')[3] AS facet_source,
       string_split(path, '/')[4] AS facet_lang,
       string_split(string_split(path, '/')[-1], '.')[1] AS facet_stem,
       string_split(string_split(path, '/')[-1], '.')[-1] AS facet_fmt
FROM p
"""


# ---------------------------------------------------------------------------
# q11 — daterange construction (SURVEY §2.5 P5): "YYYYMMDD-YYYYMMDD" with
# open-bound sentinels (0001-01-01 / 9999-12-31).
# ---------------------------------------------------------------------------

def q11_daterange(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    e = _t(spark, sf_dir, "events").limit(5000)
    ts = F.col("ts").cast("timestamp")
    raw = (
        F.when(F.col("event_id") % 5 == 0,
               F.concat(F.lit("-"), F.date_format(ts, "yyyyMMdd")))
        .when(F.col("event_id") % 5 == 1,
              F.concat(F.date_format(ts, "yyyyMMdd"), F.lit("-")))
        .otherwise(F.concat(F.date_format(ts, "yyyyMMdd"), F.lit("-"),
                            F.date_format(F.date_add(F.to_date(ts), 30), "yyyyMMdd")))
    )
    d = e.select("event_id", raw.alias("raw_range"))
    lo = F.element_at(F.split("raw_range", "-"), 1)
    hi = F.element_at(F.split("raw_range", "-"), 2)
    start = F.when(lo == "", F.to_timestamp(F.lit("0001-01-01"))).otherwise(
        F.to_timestamp(lo, "yyyyMMdd")
    )
    end = F.when(hi == "", F.to_timestamp(F.lit("9999-12-31"))).otherwise(
        F.to_timestamp(hi, "yyyyMMdd")
    )
    return d.select(
        "event_id", "raw_range",
        F.date_format(start, "yyyy-MM-dd").alias("range_start"),
        F.date_format(end, "yyyy-MM-dd").alias("range_end"),
    )


_Q11_SQL = """
WITH d AS (
  SELECT event_id,
    CASE WHEN event_id % 5 = 0 THEN '-' || strftime(ts, '%Y%m%d')
         WHEN event_id % 5 = 1 THEN strftime(ts, '%Y%m%d') || '-'
         ELSE strftime(ts, '%Y%m%d') || '-' || strftime(CAST(ts AS DATE) + 30, '%Y%m%d')
    END AS raw_range
  FROM (SELECT * FROM events LIMIT 5000)
)
SELECT event_id, raw_range,
  CASE WHEN string_split(raw_range, '-')[1] = '' THEN '0001-01-01'
       ELSE strftime(strptime(string_split(raw_range, '-')[1], '%Y%m%d'), '%Y-%m-%d')
  END AS range_start,
  CASE WHEN string_split(raw_range, '-')[2] = '' THEN '9999-12-31'
       ELSE strftime(strptime(string_split(raw_range, '-')[2], '%Y%m%d'), '%Y-%m-%d')
  END AS range_end
FROM d
"""


# ---------------------------------------------------------------------------
# q12 — time-frequency inference (SURVEY §2.5 P9): bucket each user's mean
# inter-event gap into the reference's FULL CMOR ladder — subhr/1hr/3hr/6hr/
# day/6d/1w/sem/mon/season/yr/dec/<Xd> with the 1%/60s tolerance
# (cftime_utils.py:30-95; boundaries ported rung for rung).
# ---------------------------------------------------------------------------

def q12_freq_infer(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from pyspark.sql import Window as W

    from metadata_crawler_spark.functions.timestamps import freq_bucket_expr

    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gaps = e.withColumn("gap_ms", ms - F.lag(ms).over(w)).filter(
        F.col("gap_ms").isNotNull()
    )
    per_user = gaps.groupBy("user_id").agg(
        F.sum("gap_ms").alias("tot"), F.count("*").alias("n")
    ).select("user_id", (F.col("tot") / F.col("n")).alias("avg_gap_ms"))
    freq = freq_bucket_expr(F.col("avg_gap_ms") / 1000.0)
    return per_user.select("user_id", freq.alias("time_frequency")).groupBy(
        "time_frequency"
    ).agg(F.count("*").alias("n_users"))


def _freq_case_sql(g: str) -> str:
    """The CMOR ladder as portable SQL (tolerances precomputed)."""
    day = 86400.0
    near = [("1hr", 3600.0), ("3hr", 10800.0), ("6hr", 21600.0),
            ("day", day), ("6d", 6 * day), ("1w", 7 * day), ("sem", 14 * day)]
    near_sql = "\n".join(
        f"       WHEN abs({g} - {t}) <= {max(60.0, t * 0.01)} THEN '{name}'"
        for name, t in near
    )
    return f"""CASE WHEN {g} IS NULL THEN 'fx'
       WHEN {g} <= 0 THEN 'unknown'
       WHEN {g} < 1800 THEN 'subhr'
{near_sql}
       WHEN {g} BETWEEN {20 * day} AND {40 * day} THEN 'mon'
       WHEN {g} BETWEEN {80 * day} AND {100 * day} THEN 'season'
       WHEN {g} BETWEEN {350 * day} AND {380 * day} THEN 'yr'
       WHEN {g} BETWEEN {9 * 365 * day} AND {11 * 365 * day} THEN 'dec'
       ELSE CAST(ROUND({g} / 86400.0, 3) AS VARCHAR) || 'd' END"""


_Q12_SQL = f"""
WITH gaps AS (
  SELECT user_id,
         epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts ASC, event_id ASC) AS gap_ms
  FROM events
), per_user AS (
  SELECT user_id, (SUM(gap_ms) * 1.0 / COUNT(*)) / 1000.0 AS g
  FROM gaps WHERE gap_ms IS NOT NULL GROUP BY user_id
)
SELECT {_freq_case_sql('g')} AS time_frequency,
       COUNT(*) AS n_users
FROM per_user GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q13 — counters / metrics (SURVEY §2.6 A1-A4): per-type counts, distinct
# users, value sums — the crawl's throughput accounting shape.
# ---------------------------------------------------------------------------

def q13_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    e = _t(spark, sf_dir, "events")
    return e.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 2
        ).alias("total_value"),
    )


_Q13_SQL = """
SELECT event_type, COUNT(*) AS n_events, COUNT(DISTINCT user_id) AS n_users,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# q14 — union of crawl sources (SURVEY §2.8 U1): two overlapping seed sets
# unioned + deduped, counted per host.
# ---------------------------------------------------------------------------

def q14_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set ops U1+U2+U3 in ONE query (r3→r4: the driver records at most 50
    CORRECTNESS rows, so the three former set-op queries q14/q37/q41 are
    merged — every operator keeps a scoreboard row): union+distinct+agg
    ('union' rows), exceptAll with multiplicities ('except' rows, the
    stale-sweep shape), intersect ('intersect' rows)."""
    _prep(spark)
    d = _t(spark, sf_dir, "documents")

    def _ab(prefix: str, mod: int, dom: str):
        url = F.concat(F.lit(f"https://{prefix}"),
                       (F.col("doc_id") % mod).cast("string"),
                       F.lit(f".{dom}/"), F.col("doc_id").cast("string"))
        a = d.filter(F.col("doc_id") % 2 == 0).select(url.alias("url"))
        b = d.filter(F.col("doc_id") % 3 == 0).select(url.alias("url"))
        return a, b

    a, b = _ab("h", 23, "example.org")
    host = F.regexp_extract("url", r"https://([^/]+)/", 1)
    u = (
        a.unionByName(b).distinct()
        .groupBy(host.alias("key")).agg(F.count("*").alias("n"))
        .select(F.lit("union").alias("op"), "key", "n")
    )
    a, b = _ab("h", 31, "example.net")
    exc = (
        a.exceptAll(b)
        .groupBy(F.col("url").alias("key")).agg(F.count("*").alias("n"))
        .select(F.lit("except").alias("op"), "key", "n")
    )
    a, b = _ab("i", 13, "example.io")
    itc = a.intersect(b).select(
        F.lit("intersect").alias("op"),
        F.col("url").alias("key"),
        F.lit(1).cast("long").alias("n"),
    )
    return u.unionByName(exc).unionByName(itc)


_Q14_SQL = """
WITH u AS (
  SELECT DISTINCT url FROM (
    SELECT 'https://h' || (doc_id % 23) || '.example.org/' || doc_id AS url
    FROM documents WHERE doc_id % 2 = 0
    UNION
    SELECT 'https://h' || (doc_id % 23) || '.example.org/' || doc_id AS url
    FROM documents WHERE doc_id % 3 = 0)
),
exc AS (
  SELECT 'https://h' || (doc_id % 31) || '.example.net/' || doc_id AS url
  FROM documents WHERE doc_id % 2 = 0
  EXCEPT ALL
  SELECT 'https://h' || (doc_id % 31) || '.example.net/' || doc_id AS url
  FROM documents WHERE doc_id % 3 = 0
),
itc AS (
  SELECT 'https://i' || (doc_id % 13) || '.example.io/' || doc_id AS url
  FROM documents WHERE doc_id % 2 = 0
  INTERSECT
  SELECT 'https://i' || (doc_id % 13) || '.example.io/' || doc_id AS url
  FROM documents WHERE doc_id % 3 = 0
)
SELECT 'union' AS op, regexp_extract(url, 'https://([^/]+)/', 1) AS key, COUNT(*) AS n
FROM u GROUP BY 2
UNION ALL
SELECT 'except' AS op, url AS key, COUNT(*) AS n FROM exc GROUP BY 2
UNION ALL
SELECT 'intersect' AS op, url AS key, CAST(1 AS BIGINT) AS n FROM itc
"""


# ---------------------------------------------------------------------------
# q15 — facet translate / defaults chain (SURVEY §2.5 P2): coalesce raw ->
# default, wrap pseudo-facets.
# ---------------------------------------------------------------------------

def q15_facet_translate(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.coalesce(F.nullif(F.col("lang"), F.lit("")), F.lit("unknown")).alias("facet_lang"),
        F.coalesce(F.nullif(F.col("source"), F.lit("")), F.lit("default_src")).alias("facet_source"),
        F.lit("web").alias("facet_storage"),
        F.when(F.col("n_chars") > 0, F.col("n_chars")).otherwise(F.lit(-1)).alias("facet_size"),
    )


_Q15_SQL = """
SELECT doc_id,
       COALESCE(NULLIF(lang, ''), 'unknown') AS facet_lang,
       COALESCE(NULLIF(source, ''), 'default_src') AS facet_source,
       'web' AS facet_storage,
       CASE WHEN n_chars > 0 THEN n_chars ELSE -1 END AS facet_size
FROM documents
"""


# ---------------------------------------------------------------------------
# q16-q19 — text analysis suite (training-data pipeline ops).
# ---------------------------------------------------------------------------

def q16_text_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text-analysis suite in ONE per-doc row (r3→r4 50-row driver cap:
    former q16 token count + q17 quality + q18 lang-id + q19 fingerprint
    merged; lang-id is now checked PER DOCUMENT, stricter than the old
    aggregated histogram)."""
    _prep(spark)
    from metadata_crawler_spark.functions.text import (
        TOKEN_PATTERN,
        fingerprint_expr,
        lang_id_expr,
        quality_score_expr,
        ws_token_count,
    )

    from metadata_crawler_spark.operators.packing import pack_concat_chunk

    # r6: spread the single-split documents scan — the marker/regex/md5
    # metric expressions are the headline CPU cost and used to run in
    # ONE scan task; both the counts branch and the metrics branch share
    # the one exchange (ReuseExchange)
    d = _spread(_t(spark, sf_dir, "documents"))
    metrics = d.select(
        "doc_id",
        ws_token_count(F.col("text")).cast("long").alias("ws_tokens"),
        # r6: count matches without materializing every token string —
        # regexp_count runs the identical non-overlapping scan that
        # regexp_extract_all does, minus the per-match array allocation
        F.regexp_count(F.col("text"), F.lit(TOKEN_PATTERN))
        .cast("long").alias("bpe_ish_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        quality_score_expr(F.col("text")).alias("quality"),
        lang_id_expr(F.col("text")).alias("pred_lang"),
        fingerprint_expr(F.col("text")).alias("fingerprint"),
    )
    # r5 merge: GPT-style concat-and-chunk packing plan (seq_len=512) over
    # the ws token counts — start_tok is the scalable two-phase prefix
    # scan, NOT a single-partition global window (operators/packing.py).
    return pack_concat_chunk(metrics, "doc_id", "ws_tokens", 512).select(
        "doc_id", "ws_tokens", "bpe_ish_tokens", "n_chars_actual",
        "quality", "pred_lang", "fingerprint",
        "start_tok", "first_seq", "last_seq", "seq_offset",
    )


def _marker_sql(word: str) -> str:
    pad = f"' ' || text || ' '"
    needle = f" {word} "
    return (
        f"CAST((length({pad}) - length(replace({pad}, '{needle}', ''))) / {len(needle)} AS INT)"
    )


_ALL_MARKERS = ["the", "and", "of", "der", "und", "nicht", "le", "et", "les",
                "el", "que", "los"]

def _lang_score_sql(words: list[str]) -> str:
    return " + ".join(_marker_sql(w) for w in words)


_Q16_SQL = rf"""
WITH scores AS (
  SELECT doc_id, text,
         ({_lang_score_sql(['der','und','nicht'])}) AS s_de,
         ({_lang_score_sql(['the','and','of'])}) AS s_en,
         ({_lang_score_sql(['el','que','los'])}) AS s_es,
         ({_lang_score_sql(['le','et','les'])}) AS s_fr
  FROM documents
)
SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE length(string_split_regex(trim(text), '\s+')) END AS BIGINT) AS ws_tokens,
       length(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
         AS bpe_ish_tokens,
       length(text) AS n_chars_actual,
       CASE WHEN text IS NULL THEN 0.0 ELSE ROUND(
         LEAST(length(text) / 500.0, 1.0) * 0.4
         + LEAST(({' + '.join(_marker_sql(w) for w in _ALL_MARKERS)}) / 10.0, 1.0) * 0.4
         + (CASE WHEN length(text) > 0
                 THEN length(regexp_replace(text, '[^A-Za-z]', '', 'g')) * 1.0 / length(text)
                 ELSE 0.0 END) * 0.2,
       6) END AS quality,
       CASE
         WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'unknown'
         WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
         WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
         WHEN s_es >= s_fr THEN 'es'
         ELSE 'fr' END AS pred_lang,
       md5(array_to_string(list_sort(list_distinct(string_split_regex(trim(text), '\s+'))), ' '))
         AS fingerprint
FROM scores
"""

# r5: wrap the metrics query with the concat-chunk packing span math — the
# oracle uses the NAIVE global window (fine at sf0.01); the Spark side's
# two-phase scan must match it exactly.
_Q16_SQL = rf"""
WITH m AS ({_Q16_SQL}),
p AS (
  SELECT *,
         COALESCE(SUM(ws_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS start_tok
  FROM m
)
SELECT doc_id, ws_tokens, bpe_ish_tokens, n_chars_actual, quality,
       pred_lang, fingerprint,
       CAST(start_tok AS BIGINT) AS start_tok,
       CAST(start_tok // 512 AS BIGINT) AS first_seq,
       CAST(CASE WHEN ws_tokens > 0 THEN (start_tok + ws_tokens - 1) // 512
                 ELSE start_tok // 512 END AS BIGINT) AS last_seq,
       CAST(start_tok % 512 AS BIGINT) AS seq_offset
FROM p
"""


# ---------------------------------------------------------------------------
# q20 — JSON facet extraction (SURVEY §2.5 P15): pull the typed field out of
# the free-form props dict.
# ---------------------------------------------------------------------------

def q20_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    e = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return e.groupBy("event_type").agg(
        F.sum(k).alias("sum_k"), F.max(k).alias("max_k")
    )


_Q20_SQL = """
SELECT event_type,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------



# ---------------------------------------------------------------------------
# q21-q24 — near-duplicate family over documents (dedup ops a training-data
# pipeline needs; engine versions in operators/dedup.py use xxhash64 3-gram
# shingles — these oracle variants use md5 word-level hashing so DuckDB can
# compute the identical value).
# ---------------------------------------------------------------------------

_MINHASH_K = 8


def _dup_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents + near-dup copies: every 5th doc re-appears (id+1000000)
    with one word appended — deterministic in both engines."""
    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat("text", F.lit(" extraword")).alias("text"),
    )
    # spread once for the whole q21-q24 family: the md5/shingle work is
    # CPU-dense per row and the sf-scale corpus is a single scan split
    return _spread(d.unionByName(dups))


_DUP_CORPUS_SQL = """
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text || ' extraword' AS text
  FROM documents WHERE doc_id % 5 = 0
"""


def q21_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r6 optimization (guide §2.4 "remove shuffles outright"): the
    explode -> groupBy(doc_id) -> 8x min() shape sorted every exploded
    word row twice (SortAggregate partial+final around an Exchange).
    doc_id is unique in the dup corpus, so per-doc min-over-words is a
    per-ROW reduction: array_min over a transform of the word array —
    identical values (min over array elements == min over exploded
    rows), ZERO Exchange, no Generate. NULL-text rows are dropped
    explicitly (explode dropped them implicitly via the null array)."""
    _prep(spark)
    corpus = _dup_corpus(spark, sf_dir)
    # split once (multiply-referenced producer stays a separate Project,
    # see q24), then 8 array_min folds over the shared word array
    words = corpus.filter(F.col("text").isNotNull()).select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("_w")
    )
    sigs = [
        F.array_min(
            F.transform(
                F.col("_w"), lambda w: F.md5(F.concat(F.lit(f"{i}|"), w))
            )
        ).alias(f"sig_{i}")
        for i in range(_MINHASH_K)
    ]
    return words.select("doc_id", *sigs)


_Q21_SQL = f"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM corpus)
SELECT doc_id,
  {', '.join(f"MIN(md5('{i}|' || w)) AS sig_{i}" for i in range(_MINHASH_K))}
FROM w GROUP BY doc_id
"""


def q22_lsh_candidate_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded LSH on the q21 signatures: 4 bands x 2 rows; pairs sharing a
    band key are candidates (SURVEY dedup family; engine version uses
    xxhash64 + bucket caps, operators/dedup.py:lsh_candidate_pairs)."""
    _prep(spark)
    sigs = q21_minhash_signatures(spark, sf_dir)
    # r6: band keys ride ONE exploded (band_idx, band_key) table and ONE
    # self equi-join — the old 4-join union referenced the signature plan
    # 8x, and with q21 now shuffle-free there is no Exchange for Spark to
    # reuse, so each reference would recompute every md5. The tiny banded
    # table is localCheckpoint-ed (pinned) so both join sides read it
    # instead of re-deriving signatures. Same candidate set: union over b
    # of equal-band pairs == equi-join on (b, key); distinct unchanged.
    bands = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("bi"),
                        F.md5(
                            F.concat(F.col(f"sig_{2*b}"), F.col(f"sig_{2*b+1}"))
                        ).alias("bk"),
                    )
                    for b in range(4)
                ]
            )
        ).alias("band"),
    ).select("doc_id", "band.bi", "band.bk").localCheckpoint(eager=False)
    a = bands.select(F.col("doc_id").alias("id_a"), "bi", "bk")
    c = bands.select(F.col("doc_id").alias("id_b"), "bi", "bk")
    return (
        a.join(c, ["bi", "bk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


_Q22_SQL = f"""
WITH sigs AS ({{q21}}),
bands AS (
  SELECT doc_id,
    {', '.join(f"md5(sig_{2*b} || sig_{2*b+1}) AS band_{b}" for b in range(4))}
  FROM sigs
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b
  ON (a.band_0 = b.band_0 OR a.band_1 = b.band_1
      OR a.band_2 = b.band_2 OR a.band_3 = b.band_3)
WHERE a.doc_id < b.doc_id
""".replace("{q21}", _Q21_SQL)


def q23_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact trigram-shingle Jaccard for all pairs among a deterministic
    slice of the dup corpus (the verify tier after LSH)."""
    _prep(spark)
    from metadata_crawler_spark.operators.dedup import shingles_expr

    corpus = _dup_corpus(spark, sf_dir).filter(
        (F.col("doc_id") % 7 == 0) | (F.col("doc_id") >= 1_000_000)
    )
    sh = corpus.select(
        "doc_id", F.array_distinct(shingles_expr(F.col("text"), 3)).alias("sh")
    )
    a = sh.select(F.col("doc_id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("id_b"), F.col("sh").alias("sh_b"))
    j = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return j.select("id_a", "id_b", F.round(jac, 6).alias("jaccard")).filter(
        F.col("jaccard") >= 0.3
    )


_Q23_SQL = f"""
WITH corpus AS (
  SELECT * FROM ({_DUP_CORPUS_SQL})
  WHERE doc_id % 7 = 0 OR doc_id >= 1000000
),
sh AS (
  SELECT doc_id,
    list_distinct(
      CASE WHEN len(string_split_regex(trim(text), '\\s+')) < 3
           THEN [trim(text)]
           ELSE list_transform(
                  range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
                  i -> array_to_string(
                         list_slice(string_split_regex(trim(text), '\\s+'), i, i + 2), ' '))
      END) AS sh
  FROM corpus
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       ROUND(len(list_intersect(a.sh, b.sh)) * 1.0
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM sh a, sh b
WHERE a.doc_id < b.doc_id
  AND len(list_intersect(a.sh, b.sh)) * 1.0
      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.3
"""


def q24_simhash16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash via md5-hex bit votes (portable variant of
    operators/dedup.py:simhash64): bit i votes +1 when the (i+1)-th hex
    char of md5(word) has its high bit set."""
    _prep(spark)
    corpus = _dup_corpus(spark, sf_dir)
    # r6 (guide §2.4, the q21 rewrite's twin): doc_id is unique, so the
    # per-doc bit votes are a per-ROW array reduction — md5 once per
    # word into an array column, then 16 aggregate() folds over it.
    # Replaces explode -> Exchange -> two SortAggregates with a ZERO-
    # shuffle projection; identical votes (sum over array elements ==
    # sum over exploded rows), NULL-text rows dropped explicitly.
    high = list("89abcdef")
    # two projections on purpose: the md5 array is REFERENCED 16x, and
    # CollapseProject keeps a multiply-referenced non-trivial producer
    # separate — one md5 per word per row, guaranteed, no CSE reliance
    hashed = corpus.filter(F.col("text").isNotNull()).select(
        "doc_id",
        F.transform(
            F.split(F.trim("text"), r"\s+"), lambda w: F.md5(w)
        ).alias("_h"),
    )
    agg = hashed.select(
        "doc_id",
        *[
            F.aggregate(
                F.col("_h"),
                F.lit(0),
                lambda acc, h: acc
                + F.when(F.substring(h, i + 1, 1).isin(high), 1).otherwise(-1),
            ).alias(f"v{i}")
            for i in range(16)
        ],
    )
    fp = None
    for i in range(16):
        bit = F.when(F.col(f"v{i}") > 0, F.lit(1 << i)).otherwise(F.lit(0))
        fp = bit if fp is None else fp + bit
    return agg.select("doc_id", fp.cast("long").alias("simhash16"))


_hex_high = "('8','9','a','b','c','d','e','f')"
_Q24_SQL = f"""
WITH corpus AS ({_DUP_CORPUS_SQL}),
w AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM corpus),
v AS (
  SELECT doc_id,
    {', '.join(f"SUM(CASE WHEN substr(md5(w), {i+1}, 1) IN {_hex_high} THEN 1 ELSE -1 END) AS v{i}" for i in range(16))}
  FROM w GROUP BY doc_id
)
SELECT doc_id,
  CAST({' + '.join(f"(CASE WHEN v{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(16))} AS BIGINT)
    AS simhash16
FROM v
"""


# ---------------------------------------------------------------------------
# q25-q27 — similarity search over the embeddings table.
# ---------------------------------------------------------------------------

def q25_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from metadata_crawler_spark.operators.similarity import cosine_topk

    # r6: spread the corpus side — the per-pair dot products ran in the
    # single scan task of the one-file embeddings table
    emb = _spread(_t(spark, sf_dir, "embeddings"))
    queries = emb.filter(F.col("vec_id") < 5)
    return cosine_topk(emb, queries, k=5)


_Q25_SQL = """
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
q AS (SELECT vec_id AS query_id, e AS w FROM v WHERE vec_id < 5),
scored AS (
  SELECT q.query_id, v.vec_id AS nbr_id,
         ROUND(list_dot_product(v.e, q.w)
               / (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(q.w, q.w))), 6)
           AS cosine
  FROM v, q WHERE v.vec_id <> q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, nbr_id ASC) AS rank
  FROM scored
)
SELECT query_id, nbr_id, cosine, rank FROM ranked WHERE rank <= 5
"""


def q26_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed near-dup pairs (the scale path, never a cross join):
    candidates = bucket hamming <= 1 via multiprobe explode + equi-join,
    exact cosine re-rank. The oracle replicates the seeded hyperplanes as
    SQL literals, so the bucketed semantics themselves are driver-checked."""
    _prep(spark)
    from metadata_crawler_spark.operators.dedup import embedding_neardup_pairs

    emb = _t(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 200)
    return embedding_neardup_pairs(emb, threshold=0.3, method="lsh", n_planes=8)


def _q26_sql() -> str:
    """DuckDB twin of the LSH path: the deterministic hyperplanes (seeded
    numpy RNG, float64 — identical to similarity._planes) are inlined as
    list literals; candidate set = bit_count(xor(buckets)) <= 1 (exactly
    the 1-bit multiprobe set); same ROUND'd-cosine threshold."""
    import numpy as np

    planes = np.random.default_rng(7).standard_normal((64, 8))
    terms = []
    for i in range(8):
        coeffs = ", ".join(repr(float(x)) for x in planes[:, i])
        terms.append(
            f"(CASE WHEN list_dot_product(e, [{coeffs}]) > 0 THEN {1 << i} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 200),
b AS (SELECT vec_id, e, ({bucket}) AS bucket FROM v)
SELECT a.vec_id AS id_a, c.vec_id AS id_b,
       ROUND(list_dot_product(a.e, c.e)
             / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(c.e, c.e))), 6)
         AS cosine
FROM b a JOIN b c
  ON a.vec_id < c.vec_id
 AND bit_count(xor(a.bucket::BIGINT, c.bucket::BIGINT)) <= 1
WHERE ROUND(list_dot_product(a.e, c.e)
            / (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(c.e, c.e))), 6) >= 0.3
"""


_Q26_SQL = _q26_sql()


def q27_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN top-k (scale path; pandas-UDF hyperplane bucketing,
    1-bit multiprobe, exact re-rank). The oracle inlines the seeded planes
    as SQL literals (same trick as q26), so the approximate search itself
    is driver-checked; recall vs the exact baseline is pytest-verified."""
    _prep(spark)
    from metadata_crawler_spark.operators.similarity import ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return ann_topk(emb, queries, k=5, n_planes=4)


def _q27_sql() -> str:
    import numpy as np

    planes = np.random.default_rng(7).standard_normal((64, 4))
    terms = []
    for i in range(4):
        coeffs = ", ".join(repr(float(x)) for x in planes[:, i])
        terms.append(
            f"(CASE WHEN list_dot_product(e, [{coeffs}]) > 0 THEN {1 << i} ELSE 0 END)"
        )
    bucket = " + ".join(terms)
    return f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
b AS (SELECT vec_id, e, ({bucket}) AS bucket FROM v),
q AS (SELECT vec_id AS query_id, e AS w, bucket AS qb FROM b WHERE vec_id < 5),
cand AS (
  SELECT q.query_id, c.vec_id AS nbr_id,
         ROUND(list_dot_product(c.e, q.w)
               / (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(q.w, q.w))), 6)
           AS cosine
  FROM b c JOIN q
    ON bit_count(xor(c.bucket::BIGINT, q.qb::BIGINT)) <= 1
   AND c.vec_id <> q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, nbr_id ASC) AS rank
  FROM cand
)
SELECT query_id, nbr_id, cosine, CAST(rank AS BIGINT) AS rank
FROM ranked WHERE rank <= 5
"""


_Q27_SQL = _q27_sql()


# ---------------------------------------------------------------------------
# q28 — tumbling-window rollup (the streaming micro-batch agg shape,
# SURVEY §2.9; Structured-Streaming variant in streaming/micro_batch.py).
# ---------------------------------------------------------------------------

def q28_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    e = _t(spark, sf_dir, "events")
    hour = F.date_trunc("hour", F.col("ts").cast("timestamp"))
    return e.groupBy(
        F.unix_millis(hour).alias("hour_ms"), "event_type"
    ).agg(
        F.count("*").alias("n_events"),
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 2
        ).alias("total_value"),
    )


_Q28_SQL = """
SELECT epoch_ms(date_trunc('hour', ts)) AS hour_ms, event_type,
       COUNT(*) AS n_events,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2) AS total_value
FROM events GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q29-q31 — crawl-engine operators exercised through the driver contract on
# deterministic self-generated fixtures. q29 and q31 have full DuckDB
# oracles (built dynamically in oracle_sql() over the fixture parquet);
# only q30's bloom INTERNALS stay rows-only (probabilistic bitmaps are not
# SQL-expressible; their gate is the pytest FPR/zero-FN suite).
# ---------------------------------------------------------------------------

def _fixture_dir() -> str:
    import tempfile

    _pkg()
    from metadata_crawler_spark.sources.fixtures import write_fixtures

    d = os.path.join(tempfile.gettempdir(), "mcs_entry_fixtures")
    write_fixtures(d, 2000)
    return d


def q29_crawl_schedule_round(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One full frontier round over the synthetic pages corpus: canonical
    UDF -> 128-bit hash -> bloom+exact dedup -> robots -> salted top-k.

    The seen split is an md5 predicate on the canonical url (SQL-portable)
    rather than bloom internals: the bloom+exact-anti-join composition is
    EXACT by construction (zero false negatives; false positives confirmed
    against the exact tier), so the final scheduled set is a pure function
    of the data — which is what the DuckDB oracle recomputes."""
    _prep(spark)
    from metadata_crawler_spark.functions.urls import canonicalize_udf, with_url_hash
    from metadata_crawler_spark.operators.frontier import schedule_round, valid_urls
    from metadata_crawler_spark.operators.seen import bloom_build, dedup_against_seen
    from metadata_crawler_spark.plans.round_loop import _combine_frontier

    d = _fixture_dir()
    pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
    robots = spark.read.parquet(os.path.join(d, "robots.parquet"))
    hosts = spark.read.parquet(os.path.join(d, "hosts.parquet"))
    frontier = pages.select(
        canonicalize_udf("url").alias("url"),
        F.lit(0).alias("depth"),
        F.lit(1.0).alias("score"),
    )
    frontier = _combine_frontier(with_url_hash(valid_urls(frontier))).persist()
    seen = frontier.filter(
        F.substring(F.md5("url"), 1, 1).isin(*list("01234567"))
    ).select("url_hash_hi", "url_hash_lo")
    bloom = bloom_build(seen, 8, expected_per_shard=1024)
    new_urls = dedup_against_seen(frontier, seen, bloom, 8)
    # r5 family merge: site_politeness=True — offsets serialize across
    # subdomains of one registrable domain (operators/frontier.with_site,
    # running sum of prior delays; oracle = the same window in SQL). The
    # classic per-host offset stays derivable as (rank-1)*delay, so ONE
    # scheduling pass yields both columns.
    sched = schedule_round(
        new_urls, hosts, robots, salt_parts=4, site_politeness=True
    ).select(
        "url", "host",
        F.col("depth").cast("long").alias("depth"),
        F.col("rank").cast("long").alias("rank"),
        ((F.col("rank") - 1) * F.col("crawl_delay_ms"))
        .cast("long").alias("fetch_offset_ms"),
        "site",
        F.col("fetch_offset_ms").cast("long").alias("site_offset_ms"),
    )
    # family merge (VERDICT r4 item 8): fixed-3-iteration PageRank over
    # the fixture link graph (href edges out of the html column), vertex
    # set = the combined frontier; every scheduled url carries its link-
    # authority score — the periodic recrawl-prioritization signal
    # (operators/frontier.pagerank / rescore_frontier).
    from metadata_crawler_spark.operators.frontier import pagerank

    edges = pages.select(
        canonicalize_udf("url").alias("src"),
        F.explode(
            F.regexp_extract_all(
                F.col("html").cast("string"),
                F.lit(r'href="([^"]+)"'),
                F.lit(1),
            )
        ).alias("dst"),
    )
    pr = pagerank(edges, iterations=3, vertices=frontier.select("url"))
    return sched.join(pr, "url").select(
        "url", "host", "depth", "rank", "fetch_offset_ms",
        F.round("pr", 9).alias("pr"), "site", "site_offset_ms",
    )


def _q29_sql(fixture_dir: str) -> str:
    """DuckDB twin of the scheduling round, over the fixture parquet + the
    canon mapping table (canonicalization itself is UDF-tier; its oracle is
    q02 + the golden pytest suite)."""
    return f"""
WITH pages AS (SELECT * FROM read_parquet('{fixture_dir}/pages.parquet')),
cmap AS (SELECT * FROM read_parquet('{fixture_dir}/canon.parquet')),
robots AS (SELECT * FROM read_parquet('{fixture_dir}/robots.parquet')),
hostsb AS (SELECT * FROM read_parquet('{fixture_dir}/hosts.parquet')),
frontier AS (
  SELECT cmap.canon_url AS url, 0 AS depth, ROUND(SUM(1.0), 9) AS score
  FROM pages JOIN cmap ON pages.url = cmap.url
  WHERE regexp_matches(cmap.canon_url,
        '^https?://[A-Za-z0-9\\-._~%]+(:\\d+)?(/.*)?$')
  GROUP BY cmap.canon_url
),
new_urls AS (
  SELECT * FROM frontier
  WHERE substr(md5(url), 1, 1) NOT IN ('0','1','2','3','4','5','6','7')
),
gated AS (
  SELECT n.url,
         regexp_extract(n.url,
             '^[A-Za-z][A-Za-z0-9+.\\-]*://(?:[^@/]*@)?([^:/?#]*)', 1) AS host,
         n.depth, n.score,
         regexp_replace(n.url,
             '^[A-Za-z][A-Za-z0-9+.\\-]*://[^/]*', '') AS path
  FROM new_urls n
),
robo AS (
  SELECT g.*, COALESCE(r.crawl_delay_ms, 0) AS crawl_delay_ms, b.budget
  FROM gated g
  LEFT JOIN robots r ON g.host = r.host
  LEFT JOIN hostsb b ON g.host = b.host
  WHERE r.host IS NULL
     OR NOT EXISTS (SELECT 1 FROM unnest(r.disallow) AS t(d)
                    WHERE starts_with(g.path, d))
),
ranked AS (
  SELECT url, host, depth, score, crawl_delay_ms,
         COALESCE(budget, 8) AS budget,
         ROW_NUMBER() OVER (PARTITION BY host
                            ORDER BY depth ASC, score DESC, url ASC) AS rank
  FROM robo
),
topk AS (SELECT * FROM ranked WHERE rank <= budget),
-- site-politeness family merge: site = registrable domain (fixture
-- hosts are all implicit-default PSL shapes -> last two labels);
-- offsets = running sum of PRIOR rows' delays within the site, same
-- (depth, score DESC, url) order the per-host rank uses
sitep AS (
  SELECT *,
    CASE WHEN regexp_extract(host, '([a-z0-9_-]+\\.[a-z0-9_-]+)$', 1) <> ''
         THEN regexp_extract(host, '([a-z0-9_-]+\\.[a-z0-9_-]+)$', 1)
         ELSE host END AS site
  FROM topk
),
siteo AS (
  SELECT *,
    COALESCE(SUM(crawl_delay_ms) OVER (
      PARTITION BY site ORDER BY depth ASC, score DESC, url ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS site_offset_ms
  FROM sitep
),
-- PageRank family merge: 3 unrolled iterations of the same simplified
-- recurrence operators/frontier.pagerank runs (no dangling spread);
-- vertex set = the frontier's canonical urls, edges = href targets.
pv AS (SELECT url FROM frontier),
pn AS (SELECT COUNT(*)::DOUBLE AS n FROM pv),
ed AS (
  SELECT c.canon_url AS src, l.href AS dst
  FROM pages p JOIN cmap c ON p.url = c.url,
       unnest(regexp_extract_all(decode(p.html), 'href="([^"]+)"', 1))
         AS l(href)
),
od AS (SELECT src, COUNT(*)::DOUBLE AS deg FROM ed GROUP BY src),
pr0 AS (SELECT pv.url, 1.0 / pn.n AS pr FROM pv CROSS JOIN pn),
c1 AS (SELECT e.dst AS url, SUM(p.pr / o.deg) AS m
       FROM ed e JOIN pr0 p ON e.src = p.url JOIN od o ON e.src = o.src
       GROUP BY e.dst),
pr1 AS (SELECT pv.url, (1.0 - 0.85) / pn.n + 0.85 * COALESCE(c1.m, 0.0) AS pr
        FROM pv CROSS JOIN pn LEFT JOIN c1 ON pv.url = c1.url),
c2 AS (SELECT e.dst AS url, SUM(p.pr / o.deg) AS m
       FROM ed e JOIN pr1 p ON e.src = p.url JOIN od o ON e.src = o.src
       GROUP BY e.dst),
pr2 AS (SELECT pv.url, (1.0 - 0.85) / pn.n + 0.85 * COALESCE(c2.m, 0.0) AS pr
        FROM pv CROSS JOIN pn LEFT JOIN c2 ON pv.url = c2.url),
c3 AS (SELECT e.dst AS url, SUM(p.pr / o.deg) AS m
       FROM ed e JOIN pr2 p ON e.src = p.url JOIN od o ON e.src = o.src
       GROUP BY e.dst),
pr3 AS (SELECT pv.url, (1.0 - 0.85) / pn.n + 0.85 * COALESCE(c3.m, 0.0) AS pr
        FROM pv CROSS JOIN pn LEFT JOIN c3 ON pv.url = c3.url)
SELECT r.url, r.host, CAST(r.depth AS BIGINT) AS depth,
       CAST(r.rank AS BIGINT) AS rank,
       CAST((r.rank - 1) * r.crawl_delay_ms AS BIGINT) AS fetch_offset_ms,
       ROUND(pr3.pr, 9) AS pr,
       r.site, CAST(r.site_offset_ms AS BIGINT) AS site_offset_ms
FROM siteo r JOIN pr3 ON r.url = pr3.url
"""


def q30_bloom_membership(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sharded-bloom probe stats, oracle-checkable (VERDICT r2 item 2):
    ``n_inserted`` and ``false_negatives`` are exact (the insert predicate
    ``doc_id % 2 = 0`` is engine-independent; a bloom filter admits NO
    false negatives by construction — a Spark-side probe bug would emit a
    nonzero count and hash-mismatch the oracle's 0). The measured FPR is
    compared as a bound (``fpr_within_bound``: measured <= 5x the 0.01
    design target); its exact value is probed in tests/test_seen.py."""
    _prep(spark)
    from metadata_crawler_spark.functions.urls import with_url_hash
    from metadata_crawler_spark.operators.seen import bloom_build, probe_with_broadcast

    d = _t(spark, sf_dir, "documents")
    keys = with_url_hash(
        d.select(
            "doc_id", F.concat(F.lit("https://x.com/"), "doc_id").alias("url")
        )
    )
    inserted = keys.filter(F.col("doc_id") % 2 == 0)
    absent = keys.filter(F.col("doc_id") % 2 != 0)
    bloom = bloom_build(inserted, 8, fpr=0.01)
    fn = probe_with_broadcast(inserted, bloom).filter(~F.col("maybe_seen")).count()
    n_abs = absent.count()
    fp = probe_with_broadcast(absent, bloom).filter(F.col("maybe_seen")).count()
    return spark.createDataFrame(
        [(int(inserted.count()), int(fn), bool(fp <= 0.05 * max(1, n_abs)))],
        "n_inserted long, false_negatives long, fpr_within_bound boolean",
    )


_Q30_SQL = """
SELECT CAST(COUNT(*) FILTER (WHERE doc_id % 2 = 0) AS BIGINT) AS n_inserted,
       CAST(0 AS BIGINT) AS false_negatives,
       TRUE AS fpr_within_bound
FROM documents
"""


def q31_html_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-identical text + outlink + meta-lang extraction from the binary
    html column (pandas UDFs over Arrow batches). The md5 of the UDF-
    extracted text is compared against the oracle's md5 of the fixture
    ``text`` column — the north rule's byte-identical invariant, now
    driver-checked rather than rows-only."""
    _prep(spark)
    from metadata_crawler_spark.functions.text import (
        extract_meta_lang_udf,
        extract_outlinks_udf,
        extract_text_udf,
    )

    d = _fixture_dir()
    pages = spark.read.parquet(os.path.join(d, "pages.parquet"))
    return pages.select(
        "url",
        F.md5(extract_text_udf("html")).alias("text_md5"),
        F.size(extract_outlinks_udf("html")).cast("long").alias("n_links"),
        extract_meta_lang_udf("html").alias("meta_lang"),
    )


def _q31_sql(fixture_dir: str) -> str:
    """DuckDB twin: md5 of the stored oracle text (written by the same pure
    reference extractor the UDF must reproduce byte-for-byte) + regex link
    count / meta-lang over the decoded html."""
    return f"""
SELECT url,
       md5(text) AS text_md5,
       CAST(len(regexp_extract_all(decode(html), 'href="([^"]+)"')) AS BIGINT)
         AS n_links,
       COALESCE(NULLIF(lower(regexp_extract(decode(html),
             '(?i)content-language["'']\\s+content=["'']([A-Za-z\\-]+)["'']', 1)),
           ''), 'unknown')
         AS meta_lang
FROM read_parquet('{fixture_dir}/pages.parquet')
"""




# ---------------------------------------------------------------------------
# q32-q38 — remaining SURVEY §2 families: catalogue walk (S7), delete-by-
# facet (D5), special rules (P11/P12), cube metrics, set-ops (U2),
# sessionization (T-family).
# ---------------------------------------------------------------------------

def q32_catalog_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intake-catalogue walk analog (S7): parse a nested catalogue document
    and explode its url list into one row per data object
    (reference: backends/intake.py:45-110 _walk_yaml_catalogue)."""
    _prep(spark)
    d = _t(spark, sf_dir, "documents")
    cat = d.select(
        "doc_id",
        F.concat(
            F.lit('{"name":"cat_'), F.col("doc_id").cast("string"),
            F.lit('","n":'), (F.col("doc_id") % 5 + 1).cast("string"),
            F.lit(',"urls":"'),
            F.concat_ws(
                ",",
                F.transform(
                    F.sequence(F.lit(1), F.col("doc_id") % 5 + 1),
                    lambda i: F.concat(
                        F.lit("https://cat.example.com/"),
                        F.col("doc_id").cast("string"), F.lit("/p"), i.cast("string"),
                    ),
                ),
            ),
            F.lit('"}'),
        ).alias("catalog_json"),
    )
    parsed = cat.select(
        "doc_id",
        F.get_json_object("catalog_json", "$.name").alias("cat_name"),
        F.get_json_object("catalog_json", "$.n").cast("long").alias("n_declared"),
        F.split(F.get_json_object("catalog_json", "$.urls"), ",").alias("urls"),
    )
    return parsed.select(
        "doc_id", "cat_name", "n_declared", F.explode("urls").alias("url")
    )


_Q32_SQL = """
WITH cat AS (
  SELECT doc_id,
    '{"name":"cat_' || doc_id || '","n":' || (doc_id % 5 + 1) || ',"urls":"' ||
    array_to_string(
      list_transform(range(1, (doc_id % 5 + 1)::INT + 1),
                     i -> 'https://cat.example.com/' || doc_id || '/p' || i),
      ',') || '"}' AS catalog_json
  FROM documents
)
SELECT doc_id,
       json_extract_string(catalog_json, '$.name') AS cat_name,
       CAST(json_extract_string(catalog_json, '$.n') AS BIGINT) AS n_declared,
       unnest(string_split(json_extract_string(catalog_json, '$.urls'), ',')) AS url
FROM cat
"""


def q33_delete_by_facet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Facet-match delete (D5): glob 'e*' on lang -> anchored regex ->
    filtered rewrite; survivors counted per facet (reference:
    ingester/mongo.py:159-217 glob_to_regex + DeleteMany)."""
    _prep(spark)
    d = _t(spark, sf_dir, "documents")
    # glob 'e*' compiled driver-side to ^e.*$ (the reference's translation)
    survivors = d.filter(~F.col("lang").rlike("^e.*$"))
    return survivors.groupBy("lang").agg(F.count("*").alias("n_docs"))


_Q33_SQL = """
SELECT lang, COUNT(*) AS n_docs FROM documents
WHERE NOT regexp_matches(lang, '^e.*$')
GROUP BY lang
"""


def q34_special_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Special rules P11 (conditional) + P12/J2 (call/lookup map) in ONE
    query (r3→r4 50-row driver cap; formerly q34 + q35). Conditional: the
    reference evals a templated condition per record ("'pt' in
    time_frequency" -> inst/mean, api/drs_config.toml:157-161); ours
    compiles to when/otherwise. Lookup: the CORDEX domain->bbox dict
    becomes a broadcast map literal probed with element_at (reference:
    api/drs_config.toml:368-398, eval at config.py:697-702)."""
    _prep(spark)
    d = _t(spark, sf_dir, "documents")
    pairs = []
    for k, v in [("en", "EUR"), ("de", "EUR"), ("fr", "EUR"),
                 ("es", "EUR"), ("zh", "EAS"), ("ja", "EAS")]:
        pairs.extend([F.lit(k), F.lit(v)])
    region_map = F.create_map(*pairs)
    return d.select(
        "doc_id",
        F.when(F.col("source").contains("1"), F.lit("inst"))
        .otherwise(F.lit("mean"))
        .alias("cell_methods"),
        F.when(F.col("n_chars") >= 300, F.lit("long"))
        .when(F.col("n_chars") >= 100, F.lit("medium"))
        .otherwise(F.lit("short"))
        .alias("length_class"),
        "lang",
        F.coalesce(F.element_at(region_map, F.col("lang")), F.lit("GLOBAL")).alias("region"),
    )


_Q34_SQL = """
SELECT doc_id,
       CASE WHEN source LIKE '%1%' THEN 'inst' ELSE 'mean' END AS cell_methods,
       CASE WHEN n_chars >= 300 THEN 'long'
            WHEN n_chars >= 100 THEN 'medium'
            ELSE 'short' END AS length_class,
       lang,
       CASE WHEN lang IN ('en','de','fr','es') THEN 'EUR'
            WHEN lang IN ('zh','ja') THEN 'EAS'
            ELSE 'GLOBAL' END AS region
FROM documents
"""


def q36_cube_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metrics cube (A-family generalization): counts at every grouping-set
    granularity of (event_type, user bucket)."""
    _prep(spark)
    e = _t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 4).cast("long")
    )
    return e.cube("event_type", "user_bucket").agg(
        F.count("*").alias("n_events")
    )


_Q36_SQL = """
SELECT event_type, (user_id % 4) AS user_bucket, COUNT(*) AS n_events
FROM events GROUP BY CUBE (event_type, (user_id % 4))
"""


def q38_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: gap > 30 min starts a new session; sessions counted
    per user (lag + conditional cumsum — the batch form of the streaming
    session_window)."""
    _prep(spark)
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.col("ts").asc(), F.col("event_id").asc())
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    gap = ms - F.lag(ms).over(w)
    new_sess = F.when(gap.isNull() | (gap > 1800_000), 1).otherwise(0)
    sess = e.withColumn("new_sess", new_sess)
    return sess.groupBy("user_id").agg(
        F.sum("new_sess").alias("n_sessions"),
        F.count("*").alias("n_events"),
    )


_Q38_SQL = """
WITH g AS (
  SELECT user_id, event_id,
         epoch_ms(ts) - LAG(epoch_ms(ts)) OVER (PARTITION BY user_id
                                                ORDER BY ts ASC, event_id ASC) AS gap
  FROM events
)
SELECT user_id,
       CAST(SUM(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_sessions,
       COUNT(*) AS n_events
FROM g GROUP BY user_id
"""




# ---------------------------------------------------------------------------
# q39-q44 — general relational coverage the engine exposes beyond the
# reference: as-of join (operators/asof.py), pivot, intersect, rollup,
# exact percentiles, running sums.
# ---------------------------------------------------------------------------

def _rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic sparse rate table derived from events."""
    e = _t(spark, sf_dir, "events")
    return e.filter(F.col("event_id") % 50 == 0).select(
        (F.col("user_id") % 4).alias("k"),
        F.col("ts").cast("timestamp").alias("rts"),
        (F.col("event_id") % 97).cast("double").alias("rate"),
    )


def q39_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (no Spark builtin): latest rate at/before each event's
    timestamp per key — union-merge window formulation, zero Python."""
    _prep(spark)
    from metadata_crawler_spark.operators.asof import asof_join

    e = _t(spark, sf_dir, "events").limit(4000).select(
        "event_id",
        (F.col("user_id") % 4).alias("k"),
        F.col("ts").cast("timestamp").alias("ets"),
    )
    r = _rates(spark, sf_dir).withColumnRenamed("rts", "ets")
    out = asof_join(e, r, "ets", ["k"], ["rate"])
    return out.select(
        "event_id", "k", F.unix_millis("ets").alias("ts_ms"), "rate"
    )


_Q39_SQL = """
WITH e AS (
  SELECT event_id, (user_id % 4) AS k, ts AS ets
  FROM (SELECT * FROM events LIMIT 4000)
),
r AS (
  SELECT (user_id % 4) AS k, ts AS rts,
         CAST(event_id % 97 AS DOUBLE) AS rate
  FROM events WHERE event_id % 50 = 0
)
SELECT e.event_id, e.k, epoch_ms(e.ets) AS ts_ms, r.rate
FROM e ASOF LEFT JOIN r ON e.k = r.k AND e.ets >= r.rts
"""


def q40_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    e = _t(spark, sf_dir, "events").withColumn(
        "bucket", (F.col("user_id") % 4).cast("long")
    )
    types = ["click", "view", "purchase", "signup", "error"]
    p = e.groupBy("bucket").pivot("event_type", types).count()
    cols = [F.col("bucket")] + [
        F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types
    ]
    return p.select(*cols)


_Q40_SQL = """
SELECT (user_id % 4) AS bucket,
       CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_click,
       CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n_view,
       CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchase,
       CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS n_signup,
       CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_error
FROM events GROUP BY 1
"""


def q42_rollup_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    e = _t(spark, sf_dir, "events").withColumn(
        "bucket", (F.col("user_id") % 3).cast("long")
    )
    return e.rollup("event_type", "bucket").agg(
        F.count("*").alias("n_events"),
        F.grouping("event_type").cast("long").alias("g_type"),
        F.grouping("bucket").cast("long").alias("g_bucket"),
    )


_Q42_SQL = """
SELECT event_type, (user_id % 3) AS bucket, COUNT(*) AS n_events,
       CAST(GROUPING(event_type) AS BIGINT) AS g_type,
       CAST(GROUPING((user_id % 3)) AS BIGINT) AS g_bucket
FROM events GROUP BY ROLLUP (event_type, (user_id % 3))
"""


def q43_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-summaries family (r5 merge, 50-row driver cap):
    'pctl' rows — exact linear-interpolated percentiles per event_type
    (Spark `percentile` == DuckDB `quantile_cont`); 'heavy_token' rows —
    EXACT heavy hitters over the documents vocabulary found by the
    Misra-Gries candidates -> exact-recount sketch path
    (operators/sketches.heavy_hitters: the raw token column never
    shuffles — only <= partitions x (k+1) candidate rows do — while
    DuckDB computes the same answer with a plain GROUP BY/HAVING);
    'distinct_users' rows — exact per-type user cardinality (the HLL
    sketch twin of this answer is pytest-verified within its error band
    in test_sketches.py; estimates can't hash-match an exact oracle).
    Tagged union: (metric, key, v1, v2, v3)."""
    _prep(spark)
    from metadata_crawler_spark.operators.sketches import heavy_hitters

    e = _t(spark, sf_dir, "events")
    pct = F.expr("percentile(value, array(0.25, 0.5, 0.75))")
    pctl = e.groupBy("event_type").agg(
        F.round(pct[0], 4).alias("v1"),
        F.round(pct[1], 4).alias("v2"),
        F.round(pct[2], 4).alias("v3"),
    ).select(
        F.lit("pctl").alias("metric"), F.col("event_type").alias("key"),
        "v1", "v2", "v3",
    )
    toks = _t(spark, sf_dir, "documents").select(
        F.explode(
            F.filter(F.split(F.trim("text"), r"\s+"), lambda t: t != "")
        ).alias("tok")
    )
    heavy = heavy_hitters(toks, "tok", k=40).select(
        F.lit("heavy_token").alias("metric"), F.col("item").alias("key"),
        F.col("cnt").cast("double").alias("v1"),
        F.round("share", 6).alias("v2"),
        F.lit(None).cast("double").alias("v3"),
    )
    distinct = e.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("double").alias("v1")
    ).select(
        F.lit("distinct_users").alias("metric"),
        F.col("event_type").alias("key"), "v1",
        F.lit(None).cast("double").alias("v2"),
        F.lit(None).cast("double").alias("v3"),
    )
    return pctl.unionByName(heavy).unionByName(distinct)


_Q43_SQL = """
WITH toks AS (
  SELECT t.tok FROM documents,
       LATERAL UNNEST(list_filter(string_split_regex(trim(text), '\\s+'),
                                  x -> x <> '')) AS t(tok)
)
SELECT 'pctl' AS metric, event_type AS key,
       ROUND(quantile_cont(value, 0.25), 4) AS v1,
       ROUND(quantile_cont(value, 0.50), 4) AS v2,
       ROUND(quantile_cont(value, 0.75), 4) AS v3
FROM events GROUP BY event_type
UNION ALL
SELECT 'heavy_token', tok,
       CAST(COUNT(*) AS DOUBLE),
       ROUND(COUNT(*) / (SELECT COUNT(*) FROM toks), 6), NULL
FROM toks GROUP BY tok
HAVING COUNT(*) * 40 > (SELECT COUNT(*) FROM toks)
UNION ALL
SELECT 'distinct_users', event_type,
       CAST(COUNT(DISTINCT user_id) AS DOUBLE), NULL, NULL
FROM events GROUP BY event_type
"""


def q44_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user running total (decimal so the cumulative sum is exact and
    order-independent across engines)."""
    _prep(spark)
    from pyspark.sql import Window as W

    e = _t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("event_id").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return e.select(
        "event_id",
        "user_id",
        F.round(
            F.sum(F.col("value").cast("decimal(18,4)")).over(w).cast("double"), 2
        ).alias("cum_value"),
    )


_Q44_SQL = """
SELECT event_id, user_id,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4)))
              OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS DOUBLE), 2) AS cum_value
FROM events WHERE user_id < 20
"""




# ---------------------------------------------------------------------------
# q45-q46 — re-crawl change detection + robots.txt parsing.
# ---------------------------------------------------------------------------

def q45_change_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two crawls diffed by content hash (unchanged/changed/new/gone) PLUS
    — r5 family merge — adaptive recrawl scheduling: a synthetic 5-check
    revisit history per URL runs through the Cho & Garcia-Molina change-
    rate estimator and the clamp-to-band revisit scheduler
    (operators/changes.estimate_change_rate / revisit_schedule), reported
    as per-status averages; PLUS — r5 revalidation merge — the
    conditional-refetch decision (operators/changes.classify_refetch,
    the HTTP If-None-Match/304 analog): the new crawl re-fetches against
    the old store, per-status counts and the body bytes a 304 would have
    saved appended as ``reval:*`` rows."""
    _prep(spark)
    from metadata_crawler_spark.operators.changes import (
        classify_refetch,
        detect_changes,
        estimate_change_rate,
        revalidation_stats,
        revisit_schedule,
    )

    d = _t(spark, sf_dir, "documents")
    url = F.concat(F.lit("https://c"), (F.col("doc_id") % 41).cast("string"),
                   F.lit(".example.org/"), F.col("doc_id").cast("string"))
    old = d.filter(F.col("doc_id") % 5 != 0).select(url.alias("url"), "text")
    new = d.filter(F.col("doc_id") % 7 != 0).select(
        url.alias("url"),
        F.when(F.col("doc_id") % 3 == 0, F.concat("text", F.lit(" v2")))
        .otherwise(F.col("text")).alias("text"),
    )
    statuses = detect_changes(old, new)

    did = F.col("doc_id")
    visits = d.select(
        url.alias("url"), did.alias("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(4))).alias("i"),
    ).select(
        "url",
        (F.lit(1700000000.0)
         + F.col("i") * ((did % 3 + 1) * 3600).cast("double")).alias("ts"),
        (
            (((did + F.col("i")) % 3 == 0) | (did % 97 == 0))
            & ~(did % 7 == 3)
        ).alias("changed"),
    )
    sched = revisit_schedule(
        estimate_change_rate(visits),
        min_interval_s=3600.0, max_interval_s=30 * 24 * 3600.0,
    )
    base = (
        statuses.join(sched, "url")
        .groupBy("status")
        .agg(
            F.count("*").alias("n_urls"),
            F.round(F.avg(F.col("lambda_hat") * 86400.0), 6)
            .alias("avg_lambda_per_day"),
            F.round(F.avg(F.col("revisit_interval_s") / 3600.0), 6)
            .alias("avg_revisit_h"),
        )
        .withColumn("bytes_saved", F.lit(None).cast("long"))
    )
    # fetched_broadcast=False: `new` here is ~6/7 of the corpus, not a
    # bounded recrawl batch — the broadcast path would OOM at large SF
    reval = revalidation_stats(
        classify_refetch(new, old, fetched_broadcast=False)
    ).select(
        F.concat(F.lit("reval:"), F.col("status")).alias("status"),
        F.col("n_urls"),
        F.lit(None).cast("double").alias("avg_lambda_per_day"),
        F.lit(None).cast("double").alias("avg_revisit_h"),
        F.col("bytes_saved"),
    )
    return base.unionByName(reval)


_Q45_SQL = """
WITH o AS (
  SELECT 'https://c' || (doc_id % 41) || '.example.org/' || doc_id AS url,
         md5(text) AS old_hash, TRUE AS old_present,
         COALESCE(strlen(text), 0)::BIGINT AS old_bytes
  FROM documents WHERE doc_id % 5 <> 0
),
n AS (
  SELECT 'https://c' || (doc_id % 41) || '.example.org/' || doc_id AS url,
         md5(CASE WHEN doc_id % 3 = 0 THEN text || ' v2' ELSE text END) AS new_hash,
         TRUE AS new_present
  FROM documents WHERE doc_id % 7 <> 0
),
j AS (
  SELECT COALESCE(o.url, n.url) AS url,
         CASE WHEN o.old_present IS NULL THEN 'new'
              WHEN n.new_present IS NULL THEN 'gone'
              WHEN o.old_hash IS NOT DISTINCT FROM n.new_hash THEN 'unchanged'
              ELSE 'changed' END AS status
  FROM o FULL OUTER JOIN n ON o.url = n.url
),
visits AS (
  SELECT 'https://c' || (doc_id % 41) || '.example.org/' || doc_id AS url,
         1700000000.0 + r.i * ((doc_id % 3 + 1) * 3600) AS ts,
         (((doc_id + r.i) % 3 = 0) OR (doc_id % 97 = 0))
           AND NOT (doc_id % 7 = 3) AS changed
  FROM documents, unnest(range(5)) AS r(i)
),
g AS (
  SELECT url, COUNT(*) AS n, SUM(changed::INT) AS x,
         (MAX(ts) - MIN(ts)) / (COUNT(*) - 1) AS avg_i,
         MAX(ts) AS last_ts
  FROM visits GROUP BY url
),
rates AS (
  SELECT url,
         CASE WHEN n > 1 AND avg_i > 0
              THEN -ln((n - x + 0.5) / (n + 0.5)) / avg_i END AS lam
  FROM g
),
sched AS (
  SELECT url, lam,
         LEAST(GREATEST(
           COALESCE(CASE WHEN lam > 0 THEN 1.0 / lam END, 2592000.0),
           3600.0), 2592000.0) AS interval_s
  FROM rates
)
SELECT j.status,
       COUNT(*) AS n_urls,
       ROUND(AVG(sched.lam * 86400.0), 6) AS avg_lambda_per_day,
       ROUND(AVG(sched.interval_s / 3600.0), 6) AS avg_revisit_h,
       NULL::BIGINT AS bytes_saved
FROM j JOIN sched USING (url)
GROUP BY j.status
UNION ALL
SELECT 'reval:' || CASE
         WHEN o.url IS NULL THEN 'new'
         WHEN o.old_hash IS NOT DISTINCT FROM n.new_hash THEN 'not_modified'
         ELSE 'modified' END AS status,
       COUNT(*) AS n_urls,
       NULL::DOUBLE AS avg_lambda_per_day,
       NULL::DOUBLE AS avg_revisit_h,
       SUM(CASE WHEN o.url IS NOT NULL
                 AND o.old_hash IS NOT DISTINCT FROM n.new_hash
                THEN o.old_bytes ELSE 0 END)::BIGINT AS bytes_saved
FROM n LEFT JOIN o ON n.url = o.url
GROUP BY 1
"""


def q46_robots_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """robots.txt bodies -> rules table (pandas UDF). Bodies are synthesized
    deterministically from doc_id and exercise the full RFC 9309 surface:
    Allow directives, a specific-agent group that must REPLACE the ``*``
    group for our agent (mcsbot), and per-group crawl delays. The oracle
    computes the expected group selection directly from doc_id."""
    _prep(spark)
    from metadata_crawler_spark.functions.robots import robots_table

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    doc_id = F.col("doc_id")
    body = F.concat(
        # specific group for our agent on every 5th host — wins over '*'
        F.when(
            doc_id % 5 == 0,
            F.lit("User-agent: mcsbot\nDisallow: /special\nCrawl-delay: 1\n\n"),
        ).otherwise(F.lit("")),
        F.lit("User-agent: *\n"),
        F.when(doc_id % 2 == 0, F.lit("Allow: /public/\n")).otherwise(F.lit("")),
        F.when(doc_id % 4 == 0, F.lit("Disallow: /private\nDisallow: /tmp\n"))
        .when(doc_id % 4 == 1, F.lit("Disallow: /\n"))
        .otherwise(F.lit("Disallow:\n")),
        F.when(doc_id % 3 == 0, F.lit("Crawl-delay: 2\n")).otherwise(F.lit("")),
    )
    pages = d.select(
        "doc_id",
        F.concat(F.lit("h"), doc_id.cast("string"), F.lit(".example.com")).alias("host"),
        body.cast("binary").alias("robots_txt"),
    )
    rules = robots_table(pages)
    return rules.select(
        "host",
        F.size("allow").cast("long").alias("n_allow"),
        F.size("disallow").cast("long").alias("n_disallow"),
        "crawl_delay_ms",
    )


def q47_timestamp_ladder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full heuristic timestamp-coercion ladder (SURVEY §2.5 P4, reference
    convert_str_to_timestamp utils/__init__.py:190-271): %Y, %Y%m, %Y%j
    (day-of-year), %Y%m%d, %Y%m%d%H, %Y%m%d%H%M, %Y%m%d%H%M%S (seconds
    dropped), T-separated ISO, and the 'fx' -> alternative fallback. The
    oracle computes the expected instant INDEPENDENTLY via date_trunc."""
    _prep(spark)
    from metadata_crawler_spark.functions.timestamps import coerce_timestamp_expr

    e = _t(spark, sf_dir, "events")
    ts = F.col("ts").cast("timestamp")
    m = F.col("event_id") % 9
    raw = (
        F.when(m == 0, F.lit("fx"))
        .when(m == 1, F.date_format(ts, "yyyy"))
        .when(m == 2, F.date_format(ts, "yyyyMM"))
        .when(m == 3, F.date_format(ts, "yyyyDDD"))
        .when(m == 4, F.date_format(ts, "yyyyMMdd"))
        .when(m == 5, F.date_format(ts, "yyyyMMddHH"))
        .when(m == 6, F.date_format(ts, "yyyyMMddHHmm"))
        .when(m == 7, F.date_format(ts, "yyyyMMddHHmmss"))
        .otherwise(F.date_format(ts, "yyyy-MM-dd'T'HH:mm"))
    )
    parsed = coerce_timestamp_expr(raw)
    return e.select(
        "event_id", raw.alias("raw_ts"), F.unix_millis(parsed).alias("parsed_ms")
    )


_Q47_SQL = """
SELECT event_id,
  CASE event_id % 9
    WHEN 0 THEN 'fx'
    WHEN 1 THEN strftime(ts, '%Y')
    WHEN 2 THEN strftime(ts, '%Y%m')
    WHEN 3 THEN strftime(ts, '%Y%j')
    WHEN 4 THEN strftime(ts, '%Y%m%d')
    WHEN 5 THEN strftime(ts, '%Y%m%d%H')
    WHEN 6 THEN strftime(ts, '%Y%m%d%H%M')
    WHEN 7 THEN strftime(ts, '%Y%m%d%H%M%S')
    ELSE strftime(ts, '%Y-%m-%dT%H:%M') END AS raw_ts,
  epoch_ms(CASE event_id % 9
    WHEN 0 THEN TIMESTAMP '0001-01-01 00:00:00'
    WHEN 1 THEN date_trunc('year', ts)
    WHEN 2 THEN date_trunc('month', ts)
    WHEN 3 THEN date_trunc('day', ts)
    WHEN 4 THEN date_trunc('day', ts)
    WHEN 5 THEN date_trunc('hour', ts)
    WHEN 6 THEN date_trunc('minute', ts)
    WHEN 7 THEN date_trunc('minute', ts)
    ELSE date_trunc('minute', ts) END) AS parsed_ms
FROM events
"""


def q48_vocab_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Term-statistics family: (a) corpus vocabulary building — global
    word counts -> deterministic top-200 (count DESC, token ASC), one
    (token, count) partial-agg shuffle, document bodies never move; (b)
    BM25 full-text retrieval (operators/search.py) — inverted-index
    postings + lexicon, a 3-term query scored with the Lucene BM25
    formula in pure column expressions, top-200 docs by (rounded score
    DESC, doc_id ASC). The rank window orders on the ROUND(...,6) score
    so the k-boundary is decided on the exact same grid both engines
    hash. Reference analog: the crawl exists so the populated index can
    be searched (solr.py:214-268 facet/query surface)."""
    _prep(spark)
    from pyspark.sql import Window as W

    from metadata_crawler_spark.operators.search import (
        bm25_score_expr,
        build_lexicon,
        build_postings,
        corpus_stats,
    )

    d = _t(spark, sf_dir, "documents")
    words = d.select(F.explode(F.split(F.trim("text"), r"\s+")).alias("token"))
    counts = words.groupBy("token").agg(F.count("*").alias("n"))
    w = W.orderBy(F.col("n").desc(), F.col("token").asc())
    vocab = (
        counts.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 200)
        .select(
            F.lit("vocab").alias("section"),
            F.col("token").alias("key"),
            "n",
            F.col("rank").cast("long").alias("rank"),
            F.lit(None).cast("double").alias("score"),
        )
    )

    terms = ["vector", "merge", "stream"]
    post = build_postings(d, "text", "doc_id")
    lex = build_lexicon(post)
    n_docs, avgdl = corpus_stats(d)
    hits = post.filter(F.col("token").isin(terms))
    lexq = lex.filter(F.col("token").isin(terms))
    scored = hits.join(F.broadcast(lexq), "token").select(
        "id",
        bm25_score_expr(
            F.col("tf").cast("double"),
            F.col("df").cast("double"),
            F.col("dl").cast("double"),
            n_docs,
            avgdl,
        ).alias("s"),
    )
    agg = scored.groupBy("id").agg(
        F.round(F.sum("s"), 6).alias("score"),
        F.count(F.lit(1)).alias("n_hit"),
    )
    w2 = W.orderBy(F.col("score").desc(), F.col("id").asc())
    bm25 = (
        agg.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= 200)
        .select(
            F.lit("bm25").alias("section"),
            F.col("id").cast("string").alias("key"),
            F.col("n_hit").cast("long").alias("n"),
            F.col("rank").cast("long").alias("rank"),
            "score",
        )
    )
    return vocab.unionByName(bm25)


_Q48_SQL = r"""
WITH w AS (
  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents
),
c AS (SELECT token, COUNT(*) AS n FROM w GROUP BY token),
r AS (SELECT token, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, token ASC) AS rank
      FROM c),
vocab AS (
  SELECT 'vocab' AS section, token AS key, n, rank,
         CAST(NULL AS DOUBLE) AS score
  FROM r WHERE rank <= 200
),
toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     tk -> tk <> '') AS l
  FROM documents
),
post AS (
  SELECT doc_id, token, dl, COUNT(*) AS tf
  FROM (SELECT doc_id, len(l) AS dl, unnest(l) AS token FROM toks)
  GROUP BY doc_id, token, dl
),
lex AS (SELECT token, COUNT(*) AS df FROM post GROUP BY token),
stats AS (
  SELECT COUNT(*)::DOUBLE AS n_docs, AVG(len(l))::DOUBLE AS avgdl FROM toks
),
sc AS (
  SELECT p.doc_id,
         ROUND(SUM(
           ln(1.0 + (s.n_docs - p.df_d + 0.5) / (p.df_d + 0.5))
             * p.tf_d * 2.2::DOUBLE
             / (p.tf_d + 1.2::DOUBLE
                * (0.25::DOUBLE + 0.75::DOUBLE * p.dl_d / s.avgdl))
         ), 6) AS score,
         COUNT(*) AS n_hit
  FROM (
    SELECT p0.doc_id, p0.tf::DOUBLE AS tf_d, l0.df::DOUBLE AS df_d,
           p0.dl::DOUBLE AS dl_d
    FROM post p0 JOIN lex l0 USING (token)
    WHERE p0.token IN ('vector', 'merge', 'stream')
  ) p, stats s
  GROUP BY p.doc_id
),
br AS (
  SELECT doc_id, score, n_hit,
         ROW_NUMBER() OVER (ORDER BY score DESC, doc_id ASC) AS rank
  FROM sc
)
SELECT section, key, n, rank, score FROM vocab
UNION ALL
SELECT 'bm25' AS section, CAST(doc_id AS VARCHAR) AS key, n_hit AS n,
       rank, score
FROM br WHERE rank <= 200
"""


def q49_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (training-data pipeline op): flag corpus
    documents sharing any word 3-gram with a benchmark set (docs with
    doc_id % 50 == 0), via the production sharded-Bloom path
    (operators/dedup.py: bloom_contamination — benchmark shingles build
    the filter, corpus shingles probe map-side, only the maybe-slice
    pays the exact verify join; corpus text never shuffles)."""
    _prep(spark)
    from metadata_crawler_spark.operators.dedup import bloom_contamination

    # r6: shingle explode + bloom probe are CPU-dense map work — spread
    # the single-split scan (shared by both branches via ReuseExchange)
    d = _spread(_t(spark, sf_dir, "documents"))
    corpus = d.filter(F.col("doc_id") % 50 != 0).select("doc_id", "text")
    bench = d.filter(F.col("doc_id") % 50 == 0).select("text")
    # r5: the production 10^9-shingle path (sharded-Bloom prefilter +
    # exact verify of the maybe-slice) IS what the oracle now checks —
    # with exact_verify on it returns exactly ngram_contamination's rows.
    out = bloom_contamination(corpus, bench, "text", "doc_id", ngram=3)
    return out.select(
        "doc_id",
        F.col("n_contaminated_ngrams").cast("long").alias("n_contaminated_ngrams"),
        "contaminated",
    )


_SHINGLE3_SQL = (
    # short branch mirrors shingles_expr exactly: whitespace-NORMALIZED
    # joined tokens, not the raw text (ADVICE r2: internal double spaces)
    "CASE WHEN len(string_split_regex(trim(text), '\\s+')) < 3"
    "     THEN [array_to_string(string_split_regex(trim(text), '\\s+'), ' ')]"
    "     ELSE list_transform("
    "            range(1, len(string_split_regex(trim(text), '\\s+')) - 1),"
    "            i -> array_to_string("
    "                   list_slice(string_split_regex(trim(text), '\\s+'), i, i + 2), ' '))"
    " END"
)

_Q49_SQL = f"""
WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0),
bench AS (SELECT text FROM documents WHERE doc_id % 50 = 0),
d AS (SELECT doc_id, unnest(list_distinct({_SHINGLE3_SQL})) AS sh FROM corpus),
b AS (SELECT DISTINCT unnest(list_distinct({_SHINGLE3_SQL})) AS sh FROM bench),
hits AS (SELECT doc_id, COUNT(*) AS n FROM d JOIN b USING (sh) GROUP BY doc_id)
SELECT c.doc_id,
       CAST(COALESCE(h.n, 0) AS BIGINT) AS n_contaminated_ngrams,
       COALESCE(h.n, 0) > 0 AS contaminated
FROM corpus c LEFT JOIN hits h ON c.doc_id = h.doc_id
"""


def q50_stats_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stats rules (SURVEY §2.5 P8, reference _apply_stats_rules
    api/config.py:405-458): per data object (user here) the 'bbox' rule
    [lon_min, lon_max, lat_min, lat_max], the 'minmax' rule over a value
    variable, and the 'range' rule over the time coordinate. Coordinates
    are synthesized deterministically (exact 2-decimal doubles) so min/max
    are bit-identical across engines."""
    _prep(spark)
    e = _t(spark, sf_dir, "events")
    lat = (F.col("event_id") % 18000) / 100.0 - 90.0
    lon = (F.col("event_id") % 36000) / 100.0 - 180.0
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    return (
        e.withColumn("lat", lat).withColumn("lon", lon).withColumn("ms", ms)
        .groupBy("user_id")
        .agg(
            F.min("lon").alias("lon_min"),
            F.max("lon").alias("lon_max"),
            F.min("lat").alias("lat_min"),
            F.max("lat").alias("lat_max"),
            F.min("value").alias("val_min"),
            F.max("value").alias("val_max"),
            F.min("ms").alias("ts_min_ms"),
            F.max("ms").alias("ts_max_ms"),
        )
    )


_Q50_SQL = """
SELECT user_id,
       MIN((event_id % 36000) / 100.0 - 180.0) AS lon_min,
       MAX((event_id % 36000) / 100.0 - 180.0) AS lon_max,
       MIN((event_id % 18000) / 100.0 - 90.0) AS lat_min,
       MAX((event_id % 18000) / 100.0 - 90.0) AS lat_max,
       MIN(value) AS val_min,
       MAX(value) AS val_max,
       MIN(epoch_ms(ts)) AS ts_min_ms,
       MAX(epoch_ms(ts)) AS ts_max_ms
FROM events GROUP BY user_id
"""


def q51_catalog_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive catalogue-of-catalogues walk (S7 FULL parity, VERDICT r2
    item 5; reference _walk_yaml_catalogue backends/intake.py:45-110):
    catalog JSON docs declare child-catalog refs and leaf urls; BFS from
    root 0 (sources/catalog.walk_catalog) emits (cat_id, first-visit
    depth, name, leaf url). The synthesized ref graph has branching
    (2c+1, 3c+2), back-edges/cycles (c%10==9 -> c%7) and dangling refs;
    the oracle is a DuckDB recursive CTE with min-depth semantics."""
    _prep(spark)
    from metadata_crawler_spark.sources.catalog import walk_catalog

    d = _t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    cid = F.col("doc_id").cast("long")
    kids = F.filter(
        F.array(cid * 2 + 1, cid * 3 + 2), lambda x: x < F.lit(200)
    )
    kids = F.when(cid % 10 == 9, F.concat(kids, F.array(cid % 7))).otherwise(kids)
    urls = F.transform(
        F.sequence(F.lit(1).cast("int"), (cid % 3 + 1).cast("int")),
        lambda i: F.concat(
            F.lit("https://cat.example.com/"), cid.cast("string"),
            F.lit("/p"), i.cast("string"),
        ),
    )
    cats = d.select(
        cid.alias("cat_id"),
        F.to_json(
            F.struct(
                F.concat(F.lit("cat_"), cid.cast("string")).alias("name"),
                kids.alias("children"),
                urls.alias("urls"),
            )
        ).alias("catalog_json"),
    )
    return walk_catalog(spark, cats, roots=[0])


_Q51_SQL = """
WITH RECURSIVE cats AS (
  SELECT CAST(doc_id AS BIGINT) AS cat_id FROM documents WHERE doc_id < 200
),
edges AS (
  SELECT cat_id AS parent, 2 * cat_id + 1 AS child FROM cats
  WHERE 2 * cat_id + 1 < 200
  UNION ALL
  SELECT cat_id, 3 * cat_id + 2 FROM cats WHERE 3 * cat_id + 2 < 200
  UNION ALL
  SELECT cat_id, cat_id % 7 FROM cats WHERE cat_id % 10 = 9
),
reach(cat_id, depth) AS (
  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
  UNION
  SELECT e.child, r.depth + 1
  FROM reach r JOIN edges e ON e.parent = r.cat_id
  WHERE r.depth < 40
),
fv AS (SELECT cat_id, MIN(depth) AS depth FROM reach GROUP BY cat_id)
SELECT c.cat_id, fv.depth, 'cat_' || c.cat_id AS cat_name,
       unnest(list_transform(range(1, (c.cat_id % 3 + 1)::INT + 1),
              i -> 'https://cat.example.com/' || c.cat_id || '/p' || i)) AS url
FROM cats c JOIN fv ON c.cat_id = fv.cat_id
"""


_Q46_SQL = """
SELECT 'h' || doc_id || '.example.com' AS host,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 0
                 WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT) AS n_allow,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1
                 WHEN doc_id % 4 = 0 THEN 2
                 WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END AS BIGINT) AS n_disallow,
       CAST(CASE WHEN doc_id % 5 = 0 THEN 1000
                 WHEN doc_id % 3 = 0 THEN 2000 ELSE 0 END AS BIGINT)
         AS crawl_delay_ms
FROM documents WHERE doc_id < 500
"""


# ---------------------------------------------------------------------------
# q52 — sub-document dedup family (r5 merge under the 50-row cap):
# (a) CCNet-style corpus-wide paragraph dedup (Wenzek et al. 2020): drop
#     every repeated paragraph except its first (id, pos) occurrence,
#     recompose documents (operators/dedup.paragraph_dedup). Pseudo-
#     paragraphs are 10-token windows (the fixture corpus has no newlines).
# (b) exact-substring span dedup (Lee et al. 2022): every 15-token span
#     occurring verbatim elsewhere is excised from all but its first
#     (id, pos) occurrence (operators/dedup.span_dedup) — the suffix-array
#     pass re-expressed as a rolling-hash window join.
# (c) per-host template removal (r5 merge): a 3-token chunk appearing in
#     >= 2 distinct docs and >= 5% of the SAME source's docs is that
#     source's boilerplate and is removed from every doc of that source
#     (operators/dedup.host_boilerplate_dedup) — the site-template stage
#     between RefinedWeb line correction and CCNet corpus-wide dedup.
# ---------------------------------------------------------------------------

def q52_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line/paragraph-level + span-level corpus dedup — the training-
    pipeline steps between exact (q03) and near-dup (q21-q24) dedup."""
    _prep(spark)
    from metadata_crawler_spark.operators.dedup import (
        host_boilerplate_dedup,
        paragraph_dedup,
        span_dedup,
    )

    d = _t(spark, sf_dir, "documents")
    para = paragraph_dedup(d, "text", "doc_id", chunk_words=10)
    span = span_dedup(d, "text", "doc_id", window_tokens=15).select(
        "id",
        F.col("n_tokens").alias("span_n_tokens"),
        F.col("n_removed").alias("span_removed"),
        F.col("removed_frac").alias("span_removed_frac"),
        F.col("dedup_text").alias("span_text"),
    )
    hb = host_boilerplate_dedup(
        d, "text", "doc_id", "source", chunk_words=3, min_docs=2, min_pct=5
    ).select(
        "id",
        F.col("n_chunks").alias("hb_n_chunks"),
        F.col("n_boiler").alias("hb_n_boiler"),
        F.col("boiler_frac").alias("hb_boiler_frac"),
        F.col("clean_text").alias("hb_clean_text"),
    )
    return para.join(span, "id").join(hb, "id").select(
        F.col("id").alias("doc_id"),
        "n_chunks",
        "n_kept",
        "kept_frac",
        "dedup_text",
        "span_n_tokens",
        "span_removed",
        "span_removed_frac",
        "span_text",
        "hb_n_chunks",
        "hb_n_boiler",
        "hb_boiler_frac",
        "hb_clean_text",
    )


_Q52_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
),
ch AS (
  SELECT doc_id, r.i AS pos,
         array_to_string(ts[(r.i * 10 + 1):(r.i * 10 + 10)], ' ') AS chunk
  FROM t, unnest(range((len(ts) + 9) // 10)) AS r(i)
),
k AS (
  SELECT doc_id, pos, chunk,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY doc_id, pos) = 1
           AS kept
  FROM ch
),
para AS (
  SELECT doc_id,
         COUNT(*) AS n_chunks,
         CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         ROUND(SUM(CASE WHEN kept THEN 1 ELSE 0 END) / COUNT(*), 6)
           AS kept_frac,
         COALESCE(string_agg(CASE WHEN kept THEN chunk END, ' '
                             ORDER BY pos), '') AS dedup_text
  FROM k GROUP BY doc_id
),
w AS (
  SELECT doc_id, r.i AS pos,
         array_to_string(ts[(r.i + 1):(r.i + 15)], ' ') AS win
  FROM t, unnest(range(greatest(len(ts) - 14, 0))) AS r(i)
),
dupw AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           ROW_NUMBER() OVER (PARTITION BY win ORDER BY doc_id, pos) AS rn
    FROM w
  ) WHERE rn > 1
),
cov AS (
  SELECT DISTINCT doc_id, r.j AS tpos
  FROM dupw, unnest(range(pos, pos + 15)) AS r(j)
),
tok AS (
  SELECT doc_id, r.i AS tpos, ts[r.i + 1] AS tok
  FROM t, unnest(range(len(ts))) AS r(i)
),
surv AS (
  SELECT tok.doc_id, tok.tpos, tok.tok FROM tok
  ANTI JOIN cov ON tok.doc_id = cov.doc_id AND tok.tpos = cov.tpos
),
rec AS (
  SELECT doc_id, string_agg(tok, ' ' ORDER BY tpos) AS span_text
  FROM surv GROUP BY doc_id
),
rem AS (SELECT doc_id, COUNT(*) AS n_removed FROM cov GROUP BY doc_id),
hb_ch AS (
  SELECT t.doc_id, d.source AS host, r.i AS pos,
         array_to_string(ts[(r.i * 3 + 1):(r.i * 3 + 3)], ' ') AS chunk
  FROM t JOIN documents d ON t.doc_id = d.doc_id,
       unnest(range((len(ts) + 2) // 3)) AS r(i)
),
hb_hostdocs AS (
  SELECT source AS host, COUNT(DISTINCT doc_id) AS n_docs
  FROM documents GROUP BY 1
),
hb_boiler AS (
  SELECT host, chunk FROM (
    SELECT host, chunk, COUNT(DISTINCT doc_id) AS n_with
    FROM hb_ch GROUP BY 1, 2
  ) cd JOIN hb_hostdocs USING (host)
  WHERE n_with >= 2 AND n_with * 100 >= n_docs * 5
),
hb_mark AS (
  SELECT c.doc_id, c.pos, c.chunk, (b.chunk IS NOT NULL) AS is_boiler
  FROM hb_ch c
  LEFT JOIN hb_boiler b ON c.host = b.host AND c.chunk = b.chunk
),
hb AS (
  SELECT doc_id,
         COUNT(*) AS hb_n_chunks,
         CAST(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT)
           AS hb_n_boiler,
         ROUND(SUM(CASE WHEN is_boiler THEN 1 ELSE 0 END) / COUNT(*), 6)
           AS hb_boiler_frac,
         COALESCE(string_agg(CASE WHEN NOT is_boiler THEN chunk END, ' '
                             ORDER BY pos), '') AS hb_clean_text
  FROM hb_mark GROUP BY doc_id
)
SELECT para.doc_id, n_chunks, n_kept, kept_frac, dedup_text,
       CAST(len(t.ts) AS BIGINT) AS span_n_tokens,
       CAST(COALESCE(rem.n_removed, 0) AS BIGINT) AS span_removed,
       ROUND(CASE WHEN len(t.ts) = 0 THEN 0.0
                  ELSE COALESCE(rem.n_removed, 0) / len(t.ts) END, 6)
         AS span_removed_frac,
       COALESCE(rec.span_text, '') AS span_text,
       hb.hb_n_chunks, hb.hb_n_boiler, hb.hb_boiler_frac, hb.hb_clean_text
FROM para
JOIN t ON para.doc_id = t.doc_id
LEFT JOIN rem ON para.doc_id = rem.doc_id
LEFT JOIN rec ON para.doc_id = rec.doc_id
JOIN hb ON para.doc_id = hb.doc_id
"""


# ---------------------------------------------------------------------------
# q53 — document-quality family: Gopher repetition filters (Rae et al.
# 2021 §A1.1: mean word length, distinct-word fraction, top-2-gram char
# coverage, flag; functions/quality.gopher_repetition) merged with
# RefinedWeb line-wise correction metrics (Penedo et al. 2023 §3.3:
# shouting / numeric / social-counter / short-stub line fractions and
# the removed-char flag; functions/quality.line_quality_metrics).
# ---------------------------------------------------------------------------

def q53_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from metadata_crawler_spark.functions.quality import (
        gopher_repetition,
        line_quality_metrics,
    )

    # r6: seven independent metric branches each explode n-grams/lines
    # off this scan — spread the single-split table once so every
    # branch's map side (the explode + hash work) is parallel
    d = _spread(_t(spark, sf_dir, "documents"))
    rep = gopher_repetition(d, "text", "doc_id")
    lm = line_quality_metrics(d, "text", "doc_id")
    # r5 merge: trained Cavnar-Trenkle char-ngram language ID
    # (functions/langid.py), bootstrapped from the marker heuristic's
    # labels (distant supervision). Kept OUT of headline-bench q16: the
    # CT gram pipeline is a document-quality stage, and this family is
    # where per-doc quality metrics live.
    from metadata_crawler_spark.functions.langid import (
        classify_lang,
        train_lang_profiles,
    )
    from metadata_crawler_spark.functions.text import lang_id_expr

    labeled = d.select(
        lang_id_expr(F.col("text")).alias("lang"), "text"
    ).filter(F.col("lang") != "unknown")
    profiles = train_lang_profiles(labeled, "text", "lang", top_n=100)
    ct = classify_lang(d, profiles, "text", "doc_id", top_n=100).select(
        F.col("doc_id").alias("id"),
        F.col("lang").alias("ct_lang"),
        F.col("dist").alias("ct_dist"),
    )
    # r5 merge: soft-404 detection (error pages served with HTTP 200 —
    # functions/quality.soft404_flags) over titles/bodies planted by
    # BOTH engines with doc_id arithmetic (the fixture has no titles).
    from metadata_crawler_spark.functions.quality import (
        SOFT404_RE,
        soft404_flags,
    )

    assert SOFT404_RE == _S404_RE  # SQL literal must track the operator

    did = F.col("doc_id")
    planted = d.select(
        "doc_id",
        F.when(
            did % 37 == 0,
            F.concat(F.lit("404 Not Found: "), F.substring("text", 1, 16)),
        )
        .otherwise(F.concat(F.lit("Doc "), did.cast("string")))
        .alias("title"),
        F.when(did % 43 == 0, F.lit("Sorry, the page could not be found."))
        .otherwise(F.col("text"))
        .alias("body"),
    )
    s4 = planted.select(
        F.col("doc_id").alias("id"),
        soft404_flags(F.col("body"), F.col("title")).alias("_s"),
    ).select(
        "id",
        F.col("_s.title_404").alias("title_404"),
        F.col("_s.body_404").alias("body_404"),
        F.col("_s.tiny_body").alias("tiny_body"),
        F.col("_s.soft404").alias("soft404"),
    )
    # r5 merge: the REST of the Gopher repetition ladder (top-3/4-gram +
    # duplicate-5..10-gram char fractions, one explode for all eight —
    # functions/quality.repetition_ngram_fractions)
    from metadata_crawler_spark.functions.quality import (
        repetition_ngram_fractions,
    )

    # doc_id%29 docs get their text doubled so the duplicate-n-gram
    # branch fires on the fixture (random text never repeats 5-grams)
    planted_rep = d.withColumn(
        "text",
        F.when(
            F.col("doc_id") % 29 == 0,
            F.concat(F.col("text"), F.lit(" "), F.col("text")),
        ).otherwise(F.col("text")),
    )
    ladder = repetition_ngram_fractions(planted_rep, "text", "doc_id")
    # r5 merge: Unicode script fractions (the cheap pre-langid gate —
    # functions/text.script_fractions). The ASCII fixture is planted
    # with Cyrillic/CJK/Arabic prefixes by doc_id arithmetic in BOTH
    # engines; the explicit-codepoint-range patterns are inlined in the
    # SQL and pinned to the operator's constants here.
    from metadata_crawler_spark.functions.text import (
        SCRIPT_RANGES,
        script_fractions,
    )

    assert SCRIPT_RANGES == _SC_RANGES  # SQL literals must track the op
    planted_sc = d.select(
        "doc_id",
        F.when(did % 31 == 0, F.concat(F.lit(_SC_CYR + " "), F.col("text")))
        .when(did % 41 == 0, F.concat(F.lit(_SC_CJK + " "), F.col("text")))
        .when(did % 53 == 0, F.concat(F.lit(_SC_AR + " "), F.col("text")))
        .otherwise(F.col("text"))
        .alias("sttext"),
    )
    sc = planted_sc.select(
        F.col("doc_id").alias("id"),
        script_fractions(F.col("sttext")).alias("_sc"),
    ).select(
        "id",
        F.col("_sc.latin_frac").alias("latin_frac"),
        F.col("_sc.cyrillic_frac").alias("cyrillic_frac"),
        F.col("_sc.cjk_frac").alias("cjk_frac"),
        F.col("_sc.arabic_frac").alias("arabic_frac"),
        F.col("_sc.digit_frac").alias("digit_frac"),
        F.col("_sc.dominant_script").alias("dominant_script"),
    )
    return rep.join(lm, "id").join(ct, "id", "left").join(s4, "id").join(
        ladder, "id"
    ).join(sc, "id").select(
        F.col("id").alias("doc_id"),
        F.col("n_words").cast("long").alias("n_words"),
        "mean_word_len",
        "distinct_frac",
        "dup_chunk_frac",
        "top2gram_char_frac",
        "flagged",
        "n_lines",
        "frac_upper_lines",
        "frac_numeric_lines",
        "frac_short_lines",
        "removed_char_frac",
        "line_flagged",
        F.coalesce("ct_lang", F.lit("unknown")).alias("ct_lang"),
        F.coalesce("ct_dist", F.lit(-1)).cast("long").alias("ct_dist"),
        "title_404", "body_404", "tiny_body", "soft404",
        "top3gram_char_frac", "top4gram_char_frac",
        "dup5gram_char_frac", "dup6gram_char_frac", "dup7gram_char_frac",
        "dup8gram_char_frac", "dup9gram_char_frac", "dup10gram_char_frac",
        "rep_flagged",
        "latin_frac", "cyrillic_frac", "cjk_frac", "arabic_frac",
        "digit_frac", "dominant_script",
    )


_Q53_SQL = """
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents
),
base AS (
  SELECT doc_id, CAST(len(ts) AS BIGINT) AS n_words,
         list_sum(list_transform(ts, x -> len(x))) AS n_chars,
         CAST(len(list_distinct(ts)) AS BIGINT) AS n_distinct,
         list_transform(range((len(ts) + 9) // 10),
                        i -> array_to_string(ts[(i * 10 + 1):(i * 10 + 10)],
                                             ' ')) AS chunks,
         list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])
           AS bg
  FROM t
),
cnt AS (
  SELECT doc_id, b.bigram, COUNT(*) AS cnt
  FROM base, unnest(bg) AS b(bigram)
  GROUP BY doc_id, b.bigram
),
top2 AS (
  SELECT doc_id, top2_chars FROM (
    SELECT doc_id, cnt * (len(bigram) - 1) AS top2_chars,
           ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY cnt DESC, cnt * (len(bigram) - 1) DESC) AS rn
    FROM cnt WHERE cnt > 1)
  WHERE rn = 1
),
ln AS (
  SELECT b.doc_id,
         list_filter(CASE WHEN contains(d.text, chr(10))
                          THEN string_split(d.text, chr(10))
                          ELSE b.chunks END,
                     c -> trim(c) <> '') AS ls
  FROM base b JOIN documents d ON b.doc_id = d.doc_id
),
lm AS (
  SELECT doc_id,
         CAST(len(ls) AS BIGINT) AS n_lines,
         CASE WHEN len(ls) > 0 THEN ROUND(
           len(list_filter(ls, c -> upper(c) = c AND lower(c) <> c))
           / len(ls), 6) ELSE 0.0 END AS frac_upper_lines,
         CASE WHEN len(ls) > 0 THEN ROUND(
           len(list_filter(ls, c -> regexp_matches(trim(c),
                                                   '^[0-9 .,%]+$')))
           / len(ls), 6) ELSE 0.0 END AS frac_numeric_lines,
         CASE WHEN len(ls) > 0 THEN ROUND(
           len(list_filter(ls, c -> len(trim(c)) <= 10))
           / len(ls), 6) ELSE 0.0 END AS frac_short_lines,
         COALESCE(list_sum(list_transform(ls, c -> len(c))), 0)
           AS tot_chars,
         COALESCE(list_sum(list_transform(
           list_filter(ls, c ->
             (upper(c) = c AND lower(c) <> c)
             OR regexp_matches(trim(c), '^[0-9 .,%]+$')
             OR regexp_matches(trim(c),
                '(?i)^[0-9]+ (likes?|views?|comments?|shares?|upvotes?)$')
             OR len(trim(c)) <= 10),
           c -> len(c))), 0) AS rem_chars
  FROM ln
)
SELECT b.doc_id, b.n_words,
       ROUND(b.n_chars / b.n_words, 6) AS mean_word_len,
       ROUND(b.n_distinct / b.n_words, 6) AS distinct_frac,
       ROUND((len(b.chunks) - len(list_distinct(b.chunks)))
             / len(b.chunks), 6) AS dup_chunk_frac,
       ROUND(COALESCE(t2.top2_chars, 0) / b.n_chars, 6)
         AS top2gram_char_frac,
       (ROUND(b.n_distinct / b.n_words, 6) < 0.3
        OR ROUND(COALESCE(t2.top2_chars, 0) / b.n_chars, 6) > 0.20)
         AS flagged,
       lm.n_lines, lm.frac_upper_lines, lm.frac_numeric_lines,
       lm.frac_short_lines,
       CASE WHEN lm.tot_chars > 0
            THEN ROUND(lm.rem_chars / lm.tot_chars, 6)
            ELSE 0.0 END AS removed_char_frac,
       CASE WHEN lm.tot_chars > 0
            THEN (lm.rem_chars / lm.tot_chars) > 0.05
            ELSE FALSE END AS line_flagged
FROM base b LEFT JOIN top2 t2 ON b.doc_id = t2.doc_id
JOIN lm ON b.doc_id = lm.doc_id
"""

# r5: trained Cavnar-Trenkle lang-id (functions/langid.py twin) spliced
# into the document-quality family oracle: heuristic marker labels
# (distant supervision, same CASE as q16's pred_lang) train per-lang
# char-1..3-gram rank profiles; each doc scores by out-of-place distance.
_Q53_CT_CTES = rf""",
cthd AS (SELECT doc_id, text FROM documents),
ctsc AS (
  SELECT doc_id,
         ({_lang_score_sql(['der', 'und', 'nicht'])}) AS s_de,
         ({_lang_score_sql(['the', 'and', 'of'])}) AS s_en,
         ({_lang_score_sql(['el', 'que', 'los'])}) AS s_es,
         ({_lang_score_sql(['le', 'et', 'les'])}) AS s_fr
  FROM cthd
),
ctlab AS (
  SELECT doc_id,
         CASE
           WHEN GREATEST(s_de, s_en, s_es, s_fr) <= 0 THEN 'unknown'
           WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr THEN 'de'
           WHEN s_en >= s_es AND s_en >= s_fr THEN 'en'
           WHEN s_es >= s_fr THEN 'es'
           ELSE 'fr' END AS lang
  FROM ctsc
),
ctbase AS (
  SELECT h.doc_id,
         regexp_replace('_' || regexp_replace(lower(coalesce(h.text, '')),
                                              '[^a-z]+', '_', 'g') || '_',
                        '_+', '_', 'g') AS nrm,
         ctlab.lang
  FROM cthd h JOIN ctlab ON ctlab.doc_id = h.doc_id
),
ctg AS (
  SELECT doc_id, lang,
    [substr(nrm, i, 1) FOR i IN range(1, length(nrm) + 1)]
    || CASE WHEN length(nrm) >= 2
            THEN [substr(nrm, i, 2) FOR i IN range(1, length(nrm))]
            ELSE []::VARCHAR[] END
    || CASE WHEN length(nrm) >= 3
            THEN [substr(nrm, i, 3) FOR i IN range(1, length(nrm) - 1)]
            ELSE []::VARCHAR[] END AS gl
  FROM ctbase
),
ctlg AS (SELECT lang, unnest(gl) AS gram FROM ctg WHERE lang <> 'unknown'),
ctlcnt AS (SELECT lang, gram, COUNT(*) AS n FROM ctlg GROUP BY 1, 2),
ctprof AS (
  SELECT lang, gram, rank FROM (
    SELECT lang, gram,
           ROW_NUMBER() OVER (PARTITION BY lang
                              ORDER BY n DESC, gram ASC) AS rank
    FROM ctlcnt) WHERE rank <= 100
),
ctdg AS (SELECT doc_id, unnest(gl) AS gram FROM ctg),
ctdcnt AS (SELECT doc_id, gram, COUNT(*) AS n FROM ctdg GROUP BY 1, 2),
ctdrank AS (
  SELECT doc_id, gram, doc_rank FROM (
    SELECT doc_id, gram,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY n DESC, gram ASC) AS doc_rank
    FROM ctdcnt) WHERE doc_rank <= 100
),
ctlangs AS (SELECT DISTINCT lang FROM ctprof),
ctdist AS (
  SELECT dr.doc_id, l.lang,
         CAST(SUM(COALESCE(ABS(dr.doc_rank - pr.rank), 100)) AS BIGINT)
           AS dist
  FROM ctdrank dr CROSS JOIN ctlangs l
  LEFT JOIN ctprof pr ON pr.lang = l.lang AND pr.gram = dr.gram
  GROUP BY 1, 2
),
ct AS (
  SELECT doc_id, lang AS ct_lang, dist AS ct_dist FROM (
    SELECT doc_id, lang, dist,
           ROW_NUMBER() OVER (PARTITION BY doc_id
                              ORDER BY dist ASC, lang ASC) AS rr
    FROM ctdist) WHERE rr = 1
)
"""
assert "\nSELECT b.doc_id" in _Q53_SQL
_Q53_SQL = _Q53_SQL.replace(
    "\nSELECT b.doc_id", _Q53_CT_CTES + "\nSELECT b.doc_id", 1
)
_Q53_SQL = _Q53_SQL.replace(
    "JOIN lm ON b.doc_id = lm.doc_id",
    "JOIN lm ON b.doc_id = lm.doc_id\n"
    "LEFT JOIN ct ON b.doc_id = ct.doc_id",
    1,
)
_Q53_SQL = _Q53_SQL.replace(
    "            ELSE FALSE END AS line_flagged",
    "            ELSE FALSE END AS line_flagged,\n"
    "       COALESCE(ct.ct_lang, 'unknown') AS ct_lang,\n"
    "       CAST(COALESCE(ct.ct_dist, -1) AS BIGINT) AS ct_dist",
    1,
)

# soft-404 half (same plant arithmetic as the Spark side). The pattern
# is INLINED, not imported: the driver loads this module before the
# package is importable (module-level package imports are banned here);
# q53 asserts it still equals quality.SOFT404_RE at runtime.
_S404_RE = (
    r"(?i)\b(404|page not found|not be found|no longer (?:exists|available)"
    r"|page (?:unavailable|does ?n[o']t exist)|file not found)\b"
)
_S404_SQL_RE = _S404_RE.replace("'", "''")
_Q53_S404_CTES = f""",
s404p AS (
  SELECT doc_id,
         CASE WHEN doc_id % 37 = 0
              THEN '404 Not Found: ' || substr(text, 1, 16)
              ELSE 'Doc ' || doc_id::VARCHAR END AS title,
         CASE WHEN doc_id % 43 = 0
              THEN 'Sorry, the page could not be found.'
              ELSE text END AS body
  FROM documents
),
s404 AS (
  SELECT doc_id,
         regexp_matches(title, '{_S404_SQL_RE}') AS title_404,
         regexp_matches(substr(body, 1, 400), '{_S404_SQL_RE}') AS body_404,
         length(regexp_replace(body, '\\s+', '', 'g')) < 64 AS tiny_body
  FROM s404p
)"""
_Q53_SQL = _Q53_SQL.replace(
    "\nSELECT b.doc_id", _Q53_S404_CTES + "\nSELECT b.doc_id", 1
)
_Q53_SQL = _Q53_SQL.replace(
    "LEFT JOIN ct ON b.doc_id = ct.doc_id",
    "LEFT JOIN ct ON b.doc_id = ct.doc_id\n"
    "JOIN s404 ON b.doc_id = s404.doc_id",
    1,
)
# full Gopher repetition ladder (top-3/4 + dup-5..10 char fractions),
# replicated per n with DuckDB list comprehensions over the same token
# lists the base CTE already builds
_RG_SELECTS = "\n    UNION ALL\n".join(
    f"""    SELECT doc_id, {n} AS n,
           unnest([{{'pos': i,
                    'gram': array_to_string(rts[i:i+{n - 1}], ' ')}}
                   FOR i IN range(1, len(rts) - {n} + 2)]) AS u
    FROM rt"""
    for n in (3, 4, 5, 6, 7, 8, 9, 10)
)
_RCAPS_TOP = {3: 0.18, 4: 0.16}
_RCAPS_DUP = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
_RPIV_COLS = ",\n".join(
    f"       MAX(CASE WHEN n = {n} THEN topc END) AS topc{n},\n"
    f"       MAX(CASE WHEN n = {n} THEN dupc END) AS dupc{n}"
    for n in (3, 4, 5, 6, 7, 8, 9, 10)
)
_Q53_LADDER_CTES = f""",
rt AS (
  SELECT doc_id,
         string_split_regex(trim(CASE WHEN doc_id % 29 = 0
                                      THEN text || ' ' || text
                                      ELSE text END), '\\s+') AS rts
  FROM documents
),
rnc AS (
  SELECT doc_id,
         COALESCE(list_sum(list_transform(rts, x -> len(x))), 0) AS rnch
  FROM rt
),
rg AS (
  SELECT doc_id, n, u.pos AS pos, u.gram AS gram FROM (
{_RG_SELECTS}
  )
),
rcnt AS (SELECT doc_id, n, gram, COUNT(*) AS cnt FROM rg GROUP BY 1, 2, 3),
rtop AS (
  SELECT doc_id, n, topc FROM (
    SELECT doc_id, n, cnt * (len(gram) - (n - 1)) AS topc,
           ROW_NUMBER() OVER (PARTITION BY doc_id, n
             ORDER BY cnt DESC, cnt * (len(gram) - (n - 1)) DESC) AS rn
    FROM rcnt WHERE cnt > 1)
  WHERE rn = 1
),
rcov AS (
  SELECT DISTINCT doc_id, n, tokidx FROM (
    SELECT g.doc_id, g.n,
           unnest(range(g.pos, g.pos + g.n)) AS tokidx
    FROM rg g JOIN rcnt c
      ON g.doc_id = c.doc_id AND g.n = c.n AND g.gram = c.gram
    WHERE c.cnt > 1
  )
),
rtl AS (
  SELECT doc_id, u.i AS tokidx, u.l AS toklen FROM (
    SELECT doc_id,
           unnest([{{'i': i, 'l': len(rts[i])}}
                   FOR i IN range(1, len(rts) + 1)]) AS u
    FROM rt
  )
),
rdupc AS (
  SELECT cv.doc_id, cv.n, SUM(t.toklen) AS dupc
  FROM rcov cv JOIN rtl t
    ON cv.doc_id = t.doc_id AND cv.tokidx = t.tokidx
  GROUP BY 1, 2
),
rdoc AS (
  SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
         COALESCE(a.n, b.n) AS n, a.topc, b.dupc
  FROM rtop a FULL JOIN rdupc b
    ON a.doc_id = b.doc_id AND a.n = b.n
),
rpiv AS (
  SELECT doc_id,
{_RPIV_COLS}
  FROM rdoc GROUP BY doc_id
)"""


def _rfrac(col: str) -> str:
    return (f"CASE WHEN rnc.rnch > 0 THEN "
            f"ROUND(COALESCE(rpiv.{col}, 0) / rnc.rnch, 6) ELSE 0.0 END")


_RL_SELECT = ",\n".join(
    [f"       {_rfrac(f'topc{n}')} AS top{n}gram_char_frac" for n in (3, 4)]
    + [f"       {_rfrac(f'dupc{n}')} AS dup{n}gram_char_frac"
       for n in (5, 6, 7, 8, 9, 10)]
)
_RL_FLAG = "(" + "\n        OR ".join(
    [f"{_rfrac(f'topc{n}')} > {c}" for n, c in _RCAPS_TOP.items()]
    + [f"{_rfrac(f'dupc{n}')} > {c}" for n, c in _RCAPS_DUP.items()]
) + ") AS rep_flagged"
_Q53_SQL = _Q53_SQL.replace(
    "\nSELECT b.doc_id", _Q53_LADDER_CTES + "\nSELECT b.doc_id", 1
)
_Q53_SQL = _Q53_SQL.replace(
    "JOIN s404 ON b.doc_id = s404.doc_id",
    "JOIN s404 ON b.doc_id = s404.doc_id\n"
    "LEFT JOIN rpiv ON b.doc_id = rpiv.doc_id\n"
    "JOIN rnc ON b.doc_id = rnc.doc_id",
    1,
)
_Q53_SQL = _Q53_SQL.replace(
    "CAST(COALESCE(ct.ct_dist, -1) AS BIGINT) AS ct_dist",
    "CAST(COALESCE(ct.ct_dist, -1) AS BIGINT) AS ct_dist,\n"
    "       s404.title_404, s404.body_404, s404.tiny_body,\n"
    "       (s404.title_404 OR (s404.body_404 AND s404.tiny_body))\n"
    "         AS soft404",
    1,
)

# the ladder columns append AFTER the s404 splice introduced "AS soft404"
_Q53_SQL = _Q53_SQL.replace(
    "         AS soft404",
    "         AS soft404,\n" + _RL_SELECT + ",\n       " + _RL_FLAG,
    1,
)

# Unicode script fractions (functions/text.script_fractions twin):
# explicit codepoint intervals — \x{...} escapes parse identically in
# Java regex and RE2, and interval membership cannot drift with Unicode
# table versions the way \p{Script=} classes can. Inlined (package
# imports are banned at module level here); q53 pins them at runtime.
_SC_RANGES = {
    "latin": r"[A-Za-z\x{00C0}-\x{00D6}\x{00D8}-\x{00F6}\x{00F8}-\x{024F}]",
    "cyrillic": r"[\x{0400}-\x{04FF}]",
    "greek": r"[\x{0370}-\x{03FF}]",
    "arabic": r"[\x{0600}-\x{06FF}]",
    "cjk": r"[\x{3040}-\x{30FF}\x{3400}-\x{4DBF}\x{4E00}-\x{9FFF}]",
    "hangul": r"[\x{AC00}-\x{D7AF}]",
    "digit": "[0-9]",
}
_SC_CYR = "Привет мир это тест"
_SC_CJK = "中文文本测试"
_SC_AR = "مرحبا بالعالم"
_SC_ORDER = ("latin", "cyrillic", "greek", "arabic", "cjk", "hangul")


def _sc_cnt(key: str) -> str:
    return ("len(regexp_extract_all(sttext, '"
            + _SC_RANGES[key] + "')) AS c_" + key)


def _sc_frac(key: str) -> str:
    return ("CASE WHEN nonws > 0 THEN ROUND(c_" + key
            + " / nonws, 6) ELSE 0.0 END AS " + key + "_frac")


_SC_DOMINANT = (
    "CASE WHEN GREATEST(" + ", ".join("c_" + k for k in _SC_ORDER)
    + ") = 0 THEN 'none'\n"
    + "\n".join(
        "              WHEN c_" + k + " = GREATEST("
        + ", ".join("c_" + j for j in _SC_ORDER) + ") THEN '" + k + "'"
        for k in _SC_ORDER
    )
    + "\n              ELSE 'none' END AS dominant_script"
)
_Q53_SC_CTES = (
    """,
scp AS (
  SELECT doc_id,
         CASE WHEN doc_id % 31 = 0 THEN '"""
    + _SC_CYR
    + """ ' || text
              WHEN doc_id % 41 = 0 THEN '"""
    + _SC_CJK
    + """ ' || text
              WHEN doc_id % 53 = 0 THEN '"""
    + _SC_AR
    + """ ' || text
              ELSE text END AS sttext
  FROM documents
),
scn AS (
  SELECT doc_id,
         length(regexp_replace(sttext, '\\s+', '', 'g')) AS nonws,
         """
    + ",\n         ".join(_sc_cnt(k) for k in list(_SC_ORDER) + ["digit"])
    + """
  FROM scp
),
sc AS (
  SELECT doc_id,
         """
    + ",\n         ".join(
        _sc_frac(k) for k in ("latin", "cyrillic", "cjk", "arabic", "digit")
    )
    + """,
         """
    + _SC_DOMINANT
    + """
  FROM scn
)"""
)
_Q53_SQL = _Q53_SQL.replace(
    "\nSELECT b.doc_id", _Q53_SC_CTES + "\nSELECT b.doc_id", 1
)
_Q53_SQL = _Q53_SQL.replace(
    "JOIN rnc ON b.doc_id = rnc.doc_id",
    "JOIN rnc ON b.doc_id = rnc.doc_id\n"
    "JOIN sc ON b.doc_id = sc.doc_id",
    1,
)
_Q53_SQL = _Q53_SQL.replace(
    ") AS rep_flagged",
    ") AS rep_flagged,\n"
    "       sc.latin_frac, sc.cyrillic_frac, sc.cjk_frac, sc.arabic_frac,\n"
    "       sc.digit_frac, sc.dominant_script",
    1,
)


# ---------------------------------------------------------------------------
# q54 — PII redaction (C4/RefinedWeb scrub): count + redact emails and
# NANP phones (functions/quality.redact_pii). PII is woven in
# deterministically (doc_id arithmetic) by BOTH sides — the fixture
# corpus itself is PII-free, so this exercises the redactor, not the data.
# ---------------------------------------------------------------------------

def q54_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from metadata_crawler_spark.functions.quality import (
        pii_counts,
        redact_pii,
    )

    d = _t(spark, sf_dir, "documents")
    did = F.col("doc_id")
    pii = F.concat(
        F.col("text"),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@mail.example.com now"),
            ),
        )
        .when(did % 11 == 3, F.lit(" call +1-555-000-1234 today"))
        .when(did % 17 == 2, F.lit(" server 203.0.113.7 responded"))
        .otherwise(F.lit("")),
    )
    n_emails, n_phones = pii_counts(pii)
    from metadata_crawler_spark.functions.quality import ip_count

    n_ips = ip_count(pii)
    # r5 merge: the rest of the C4 suite (functions/quality.c4_quality_flags)
    # on plant-augmented text so every drop rule fires on the fixture
    from metadata_crawler_spark.functions.quality import c4_quality_flags

    c4txt = F.concat(
        F.col("text"),
        F.when(did % 13 == 1, F.lit(" Lorem ipsum dolor."))
        .when(did % 13 == 5, F.lit(" if (x) { y(); }"))
        .otherwise(F.lit("")),
    )
    c4 = c4_quality_flags(c4txt)
    return d.select(
        did.alias("doc_id"),
        n_emails.cast("long").alias("n_emails"),
        n_phones.cast("long").alias("n_phones"),
        n_ips.cast("long").alias("n_ips"),
        F.md5(redact_pii(pii, ips=True)).alias("redacted_md5"),
        c4["n_sentences"].cast("long").alias("n_sentences"),
        c4["lt3_sentences"].alias("lt3_sentences"),
        c4["has_lorem_ipsum"].alias("has_lorem_ipsum"),
        c4["has_curly_brace"].alias("has_curly_brace"),
        c4["kept_line_frac"].alias("kept_line_frac"),
        c4["flagged"].alias("c4_flagged"),
    )


_Q54_SQL = """
WITH p AS (
  SELECT doc_id,
         text || CASE
           WHEN doc_id % 7 = 0
             THEN ' contact user' || doc_id || '@mail.example.com now'
           WHEN doc_id % 11 = 3 THEN ' call +1-555-000-1234 today'
           WHEN doc_id % 17 = 2 THEN ' server 203.0.113.7 responded'
           ELSE '' END AS pii,
         text || CASE
           WHEN doc_id % 13 = 1 THEN ' Lorem ipsum dolor.'
           WHEN doc_id % 13 = 5 THEN ' if (x) { y(); }'
           ELSE '' END AS c4t
  FROM documents
)
SELECT doc_id,
       CAST(len(regexp_extract_all(pii,
         '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
         AS n_emails,
       CAST(len(regexp_extract_all(pii,
         '\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
       CAST(len(regexp_extract_all(pii,
         '\\b(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\b')) AS BIGINT) AS n_ips,
       md5(regexp_replace(
             regexp_replace(
               regexp_replace(pii,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
                 '<EMAIL>', 'g'),
               '\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g'),
             '\\b(?:(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\.){3}(?:25[0-5]|2[0-4][0-9]|[01]?[0-9][0-9]?)\\b', '<IP>', 'g'))
         AS redacted_md5,
       CAST(len(regexp_extract_all(c4t, '[.!?]')) AS BIGINT) AS n_sentences,
       len(regexp_extract_all(c4t, '[.!?]')) < 3 AS lt3_sentences,
       contains(lower(c4t), 'lorem ipsum') AS has_lorem_ipsum,
       contains(c4t, '{') AS has_curly_brace,
       ROUND(
         len(list_filter(string_split(c4t, chr(10)), ln ->
           right(trim(ln), 1) IN ('.', '!', '?', '"', '''')
           AND len(list_filter(string_split_regex(trim(ln), '\\s+'),
                               w -> w <> '')) >= 5
           AND NOT regexp_matches(lower(trim(ln)),
                                  'javascript|cookies? (policy|enabled)')
         )) * 1.0 / len(string_split(c4t, chr(10))), 6) AS kept_line_frac,
       (len(regexp_extract_all(c4t, '[.!?]')) < 3
        OR contains(lower(c4t), 'lorem ipsum')
        OR contains(c4t, '{')) AS c4_flagged
FROM p
"""


# ---------------------------------------------------------------------------
# q55 — model-based quality (family merge, VERDICT r4 item 1): per-doc
# unigram cross-entropy (CCNet perplexity-bucket analog,
# functions/quality.unigram_crossentropy) PLUS the fastText/DCLM-style
# hashed-ngram linear classifier score
# (functions/quality.train_quality_classifier + quality_classifier_score):
# log-odds weights over hashed {1,2}-gram buckets trained on a
# deterministic label split (doc_id % 3 == 0 as the "high-quality"
# class), scored as sigmoid(mean bucket weight) via a broadcast weight
# vector + vectorized Arrow-batch gather. Portable md5 hasher so DuckDB
# recomputes identical bucket ids; both engines derive identical weights
# from the identical counts.
# ---------------------------------------------------------------------------

_Q55_BUCKETS = 1 << 16


def q55_model_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from metadata_crawler_spark.functions.quality import (
        bigram_crossentropy,
        quality_classifier_score,
        train_quality_classifier,
        unigram_crossentropy,
    )

    from metadata_crawler_spark.operators.sampling import (
        bernoulli_importance_sample,
        dsir_logratio,
        dsir_score,
    )

    # r6: every rung (xent, classifier train+score, DSIR, SB tables,
    # NB domains) explodes tokens/ngrams off this scan — spread once
    d = _spread(_t(spark, sf_dir, "documents"))
    xent = unigram_crossentropy(d, "text", "doc_id")
    labeled = d.withColumn("_y", (F.col("doc_id") % 3 == 0).cast("int"))
    weights, _bias = train_quality_classifier(
        labeled, "text", "_y", n_buckets=_Q55_BUCKETS, hasher="md5"
    )
    scored = quality_classifier_score(
        labeled, "text", weights,
        n_buckets=_Q55_BUCKETS, hasher="md5", bias=0.0,
    ).select("doc_id", F.round("clf_score", 6).alias("clf_score"))
    # r5 merge: DSIR importance resampling (Xie et al. 2023) against the
    # same target split — per-doc sum of hashed-ngram log p_target/p_raw,
    # then deterministic Bernoulli thinning (operators/sampling.py).
    lr = dsir_logratio(
        labeled.filter("_y = 1"), d, "text",
        n_buckets=_Q55_BUCKETS, hasher="md5",
    )
    dsir = bernoulli_importance_sample(
        dsir_score(d, "text", lr, n_buckets=_Q55_BUCKETS, hasher="md5"),
        "dsir_logw", "doc_id",
        temperature=20.0, center=-75.0, seed=7, hasher="md5",
        keep_col="dsir_keep",
    ).select(
        "doc_id",
        F.round("dsir_logw", 6).alias("dsir_logw"),
        F.round("keep_prob", 6).alias("dsir_keep_prob"),
        "dsir_keep",
    )
    base = xent.select(
        F.col("id").alias("doc_id"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        "xent",
    )
    # r5 merge: Stupid-Backoff bigram + trigram cross-entropy (the next
    # two CCNet LM rungs; functions/quality.bigram_crossentropy +
    # functions/ngram_lm.trigram_crossentropy). The unigram/bigram count
    # tables build ONCE (sb_count_tables) and feed both rungs — shared
    # plan fragments reuse the explode shuffles and each rung's
    # broadcast probe runs against the one shared table set.
    from metadata_crawler_spark.functions.ngram_lm import (
        trigram_crossentropy,
    )
    from metadata_crawler_spark.functions.quality import sb_count_tables

    sb_tables = sb_count_tables(d, "text")
    bg = bigram_crossentropy(d, "text", "doc_id", tables=sb_tables).select(
        F.col("id").alias("doc_id"), "n_bigrams", "xent2"
    )
    tg = trigram_crossentropy(d, "text", "doc_id", tables=sb_tables).select(
        F.col("id").alias("doc_id"), "n_trigrams", "xent3"
    )
    # r5 merge: multi-class NB domain classifier (the WebOrganizer/DCLM
    # mixing-stage labeler) over synthetic doc_id%3 domains — training
    # AND the argmax scoring rule replicated in SQL.
    from metadata_crawler_spark.functions.quality import (
        domain_classifier_scores,
        train_domain_classifier,
    )

    d3 = d.withColumn("_lbl", (F.col("doc_id") % 3).cast("int"))
    dw, dpriors, dunseen = train_domain_classifier(
        d3, "text", "_lbl", n_buckets=_Q55_BUCKETS, hasher="md5"
    )
    dom = domain_classifier_scores(
        d3, "text", dw, dpriors, dunseen,
        n_buckets=_Q55_BUCKETS, hasher="md5",
        round_decimals=4,  # log-prob sums are ~1000-magnitude: 6 decimals
        # sits inside cross-engine summation noise, 4 does not
    ).select("doc_id", "domain", "domain_score")
    # r5 merge: CCNet head/middle/tail perplexity tertiles per language
    # (functions/quality.perplexity_buckets; exact ntile flavor — the
    # production percentile_approx+broadcast flavor is pytest-verified
    # against it in tests/test_quality.py). xent is ROUND'd to 6 decimals
    # in BOTH engines before it becomes the ordering key.
    from metadata_crawler_spark.functions.quality import perplexity_buckets

    wide = base.join(scored, "doc_id").join(dsir, "doc_id").join(
        bg, "doc_id"
    ).join(tg, "doc_id").join(dom, "doc_id").join(
        d.select("doc_id", "lang"), "doc_id"
    )
    out = perplexity_buckets(
        wide, "xent", "doc_id", lang_col="lang",
        out_col="ccnet_bucket", exact=True,
    )
    return out.select(
        "doc_id", "n_tokens", "xent", "clf_score",
        "dsir_logw", "dsir_keep_prob", "dsir_keep",
        "n_bigrams", "xent2", "n_trigrams", "xent3",
        "domain", "domain_score",
        "lang", "ccnet_bucket",
    )


_Q55_SQL = f"""
WITH t AS (
  SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
  FROM documents
),
v AS (SELECT tok, COUNT(*) AS cnt FROM t GROUP BY tok),
tot AS (SELECT CAST(SUM(cnt) AS DOUBLE) AS total FROM v),
x AS (
  SELECT t.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         ROUND(AVG(-log2(v.cnt / tot.total)), 6) AS xent
  FROM t JOIN v USING (tok), tot
  GROUP BY t.doc_id
),
d AS (
  SELECT doc_id, (doc_id % 3 = 0)::INT AS label,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     tk -> tk <> '') AS l
  FROM documents
),
g AS (
  SELECT doc_id, label,
         l || [l[i] || ' ' || l[i+1] FOR i IN range(1, len(l))] AS grams
  FROM d
),
feats AS (
  SELECT doc_id, label,
         ('0x' || substr(md5(gram), 1, 8))::BIGINT % {_Q55_BUCKETS} AS bucket
  FROM g, unnest(grams) AS u(gram)
),
counts AS (
  SELECT bucket, SUM(label)::DOUBLE AS pos, SUM(1 - label)::DOUBLE AS neg
  FROM feats GROUP BY bucket
),
ctot AS (SELECT SUM(pos) AS tp, SUM(neg) AS tn FROM counts),
w AS (
  SELECT bucket,
         ln((pos + 1.0) / (tp + 1.0 * {_Q55_BUCKETS}))
           - ln((neg + 1.0) / (tn + 1.0 * {_Q55_BUCKETS})) AS weight
  FROM counts, ctot
),
agg AS (
  SELECT f.doc_id, COUNT(*) AS nf, SUM(w.weight) AS sw
  FROM feats f JOIN w USING (bucket) GROUP BY f.doc_id
),
s AS (
  SELECT d.doc_id,
         ROUND(1.0 / (1.0 + exp(-(COALESCE(agg.sw / agg.nf, 0.0)))), 6)
           AS clf_score
  FROM d LEFT JOIN agg USING (doc_id)
),
tcnt AS (
  SELECT bucket, COUNT(*)::DOUBLE AS c FROM feats WHERE label = 1
  GROUP BY bucket
),
rcnt AS (SELECT bucket, COUNT(*)::DOUBLE AS c FROM feats GROUP BY bucket),
ttot AS (SELECT SUM(c) AS t FROM tcnt),
rtot AS (SELECT SUM(c) AS t FROM rcnt),
lr AS (
  SELECT rcnt.bucket,
         ln((COALESCE(tcnt.c, 0) + 1.0) / (ttot.t + 1.0 * {_Q55_BUCKETS}))
           - ln((rcnt.c + 1.0) / (rtot.t + 1.0 * {_Q55_BUCKETS})) AS logratio
  FROM rcnt LEFT JOIN tcnt USING (bucket), ttot, rtot
),
dw AS (
  SELECT f.doc_id, SUM(lr.logratio) AS sw
  FROM feats f JOIN lr USING (bucket) GROUP BY f.doc_id
),
ds AS (
  SELECT d.doc_id,
         COALESCE(dw.sw, 0.0) AS logw,
         1.0 / (1.0 + exp(-((COALESCE(dw.sw, 0.0) + 75.0) / 20.0)))
           AS keep_p,
         ((('0x' || substr(md5(d.doc_id || ':7'), 1, 8))::BIGINT
            % 1073741824) + 0.5) / 1073741824.0 AS u
  FROM d LEFT JOIN dw USING (doc_id)
),
u2 AS (
  SELECT tok, COUNT(*) AS ucnt
  FROM d, unnest(l) AS uu(tok) GROUP BY tok
),
sc AS (
  SELECT CAST(SUM(ucnt) AS DOUBLE) AS total,
         CAST(COUNT(*) AS DOUBLE) AS vsize
  FROM u2
),
bgs AS (
  SELECT doc_id,
         unnest([struct_pack(w1 := l[i], w2 := l[i+1])
                 FOR i IN range(1, len(l))]) AS bg
  FROM d
),
bt AS (
  SELECT bg.w1 AS w1, bg.w2 AS w2, COUNT(*) AS bcnt FROM bgs GROUP BY 1, 2
),
sb AS (
  SELECT bgs.doc_id,
         CASE WHEN bt.bcnt IS NOT NULL AND COALESCE(c1.ucnt, 0) > 0
              THEN bt.bcnt / CAST(c1.ucnt AS DOUBLE)
              ELSE 0.4 * (COALESCE(c2.ucnt, 0) + 1) / (sc.total + sc.vsize)
         END AS sbs
  FROM bgs
  LEFT JOIN bt ON bgs.bg.w1 = bt.w1 AND bgs.bg.w2 = bt.w2
  LEFT JOIN u2 c1 ON bgs.bg.w1 = c1.tok
  LEFT JOIN u2 c2 ON bgs.bg.w2 = c2.tok, sc
),
x2 AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
         ROUND(AVG(-log2(sbs)), 6) AS xent2
  FROM sb GROUP BY doc_id
),
tgs AS (
  SELECT doc_id,
         unnest([struct_pack(w1 := l[i], w2 := l[i+1], w3 := l[i+2])
                 FOR i IN range(1, len(l) - 1)]) AS tg
  FROM d
),
tt AS (
  SELECT tg.w1 AS w1, tg.w2 AS w2, tg.w3 AS w3, COUNT(*) AS tcnt
  FROM tgs GROUP BY 1, 2, 3
),
sb3 AS (
  SELECT tgs.doc_id,
         CASE WHEN tt.tcnt IS NOT NULL AND COALESCE(ctx.bcnt, 0) > 0
              THEN tt.tcnt / CAST(ctx.bcnt AS DOUBLE)
              ELSE 0.4 * (
                CASE WHEN b23.bcnt IS NOT NULL AND COALESCE(c2.ucnt, 0) > 0
                     THEN b23.bcnt / CAST(c2.ucnt AS DOUBLE)
                     ELSE 0.4 * (COALESCE(c3.ucnt, 0) + 1)
                          / (sc.total + sc.vsize)
                END)
         END AS sbs
  FROM tgs
  LEFT JOIN tt ON tgs.tg.w1 = tt.w1 AND tgs.tg.w2 = tt.w2
              AND tgs.tg.w3 = tt.w3
  LEFT JOIN bt ctx ON tgs.tg.w1 = ctx.w1 AND tgs.tg.w2 = ctx.w2
  LEFT JOIN bt b23 ON tgs.tg.w2 = b23.w1 AND tgs.tg.w3 = b23.w2
  LEFT JOIN u2 c2 ON tgs.tg.w2 = c2.tok
  LEFT JOIN u2 c3 ON tgs.tg.w3 = c3.tok, sc
),
x3 AS (
  SELECT doc_id, COUNT(*)::BIGINT AS n_trigrams,
         ROUND(AVG(-log2(sbs)), 6) AS xent3
  FROM sb3 GROUP BY doc_id
),
d3 AS (SELECT doc_id, (doc_id % 3)::INT AS label FROM documents),
lbl AS (SELECT DISTINCT label FROM d3),
f3 AS (SELECT doc_id, (doc_id % 3)::INT AS label, bucket FROM feats),
dcnt AS (
  SELECT bucket, label, COUNT(*)::DOUBLE AS c FROM f3 GROUP BY bucket, label
),
dtot AS (SELECT label, SUM(c) AS t FROM dcnt GROUP BY label),
dwts AS (
  SELECT bucket, label, ln(c + 1.0) AS wgt FROM dcnt
),
duns AS (
  SELECT label, ln(1.0 / (t + 1.0 * {_Q55_BUCKETS})) AS u FROM dtot
),
dpri AS (
  SELECT label,
         ln(COUNT(*)::DOUBLE / (SELECT COUNT(*) FROM d3)) AS prior
  FROM d3 GROUP BY label
),
dfs AS (
  SELECT d3.doc_id, lbl.label,
         COUNT(f3.bucket)::DOUBLE AS ng,
         COALESCE(SUM(w.wgt), 0.0) AS sw
  FROM d3 CROSS JOIN lbl
  LEFT JOIN f3 ON f3.doc_id = d3.doc_id
  LEFT JOIN dwts w ON w.bucket = f3.bucket AND w.label = lbl.label
  GROUP BY d3.doc_id, lbl.label
),
dscore AS (
  SELECT dfs.doc_id, dfs.label,
         ROUND(dpri.prior + dfs.ng * duns.u + dfs.sw, 4) AS score
  FROM dfs JOIN dpri USING (label) JOIN duns USING (label)
),
dbest AS (
  SELECT doc_id, label AS domain, score AS domain_score FROM (
    SELECT *, ROW_NUMBER() OVER (
      PARTITION BY doc_id ORDER BY score DESC, label) AS rn
    FROM dscore) WHERE rn = 1
)
SELECT x.doc_id, x.n_tokens, x.xent, s.clf_score,
       ROUND(ds.logw, 6) AS dsir_logw,
       ROUND(ds.keep_p, 6) AS dsir_keep_prob,
       ds.u < ds.keep_p AS dsir_keep,
       COALESCE(x2.n_bigrams, 0) AS n_bigrams,
       x2.xent2,
       COALESCE(x3.n_trigrams, 0) AS n_trigrams,
       x3.xent3,
       dbest.domain, dbest.domain_score,
       doc.lang,
       CASE WHEN x.xent IS NULL THEN NULL ELSE
         CASE NTILE(3) OVER (PARTITION BY doc.lang, (x.xent IS NULL)
                             ORDER BY x.xent, x.doc_id)
           WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail'
         END
       END AS ccnet_bucket
FROM x JOIN s USING (doc_id) JOIN ds USING (doc_id)
LEFT JOIN x2 USING (doc_id)
LEFT JOIN x3 USING (doc_id)
JOIN dbest USING (doc_id)
JOIN documents doc ON doc.doc_id = x.doc_id
"""


# ---------------------------------------------------------------------------
# q56 — the COMPOSED corpus-cleaning pipeline (plans/corpus_pipeline):
# Gopher gate -> PII scrub -> exact dedup -> MinHash/LSH+Jaccard fuzzy
# dedup -> paragraph dedup, end-to-end against a single DuckDB oracle.
# Corpus plants one victim per dedup stage: +1M near-dup copies (%5, one
# word appended) die at the fuzzy stage, +2M exact copies (%9) die at
# exact dedup, flagged docs (and their copies) die at the quality gate.
# Portable md5 hasher so the oracle recomputes identical band keys.
# ---------------------------------------------------------------------------

def q56_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    _prep(spark)
    from metadata_crawler_spark.plans.corpus_pipeline import clean_corpus

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = (
        d.unionByName(
            d.filter(F.col("doc_id") % 5 == 0).select(
                (F.col("doc_id") + 1_000_000).alias("doc_id"),
                F.concat("text", F.lit(" extraword")).alias("text"),
            )
        )
        .unionByName(
            d.filter(F.col("doc_id") % 9 == 0).select(
                (F.col("doc_id") + 2_000_000).alias("doc_id"), "text"
            )
        )
    )
    # PRODUCTION defaults including the hot-bucket cap (max_bucket=64):
    # the oracle SQL has no cap, but on this corpus no LSH bucket exceeds
    # it, so capped == uncapped — proven by
    # tests/test_quality.py::test_q56_hot_bucket_cap_does_not_bite, which
    # pins that equivalence so a fixture change that makes the cap bite
    # fails a test instead of the driver gate (VERDICT r3 "What's wrong"
    # #5: previously the oracle ran with the cap disabled, checking a
    # slightly different plan than the production default).
    out = clean_corpus(
        corpus, "text", "doc_id",
        hasher="md5", minhash_k=8, lsh_bands=4,
    )
    return out.select(
        F.col("id").alias("doc_id"), F.md5("text").alias("text_md5")
    )


_Q56_SQL = """
WITH corpus AS (
  SELECT doc_id AS id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' extraword' FROM documents
  WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 9 = 0
),
t AS (SELECT id, string_split_regex(trim(text), '\\s+') AS ts FROM corpus),
gbase AS (
  SELECT id, len(ts) AS n_words,
         list_sum(list_transform(ts, x -> len(x))) AS n_chars,
         len(list_distinct(ts)) AS n_distinct,
         list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i + 1])
           AS bg
  FROM t
),
bcnt AS (
  SELECT id, b.bigram, COUNT(*) AS c
  FROM gbase, unnest(bg) AS b(bigram) GROUP BY id, b.bigram
),
top2 AS (
  SELECT id, tc FROM (
    SELECT id, c * (len(bigram) - 1) AS tc,
           ROW_NUMBER() OVER (PARTITION BY id
             ORDER BY c DESC, c * (len(bigram) - 1) DESC) AS rn
    FROM bcnt WHERE c > 1)
  WHERE rn = 1
),
s1 AS (
  SELECT c.id, c.text FROM corpus c
  JOIN gbase g ON c.id = g.id LEFT JOIN top2 t2 ON c.id = t2.id
  WHERE NOT (ROUND(g.n_distinct / g.n_words, 6) < 0.3
             OR ROUND(COALESCE(t2.tc, 0) / g.n_chars, 6) > 0.20)
),
s2 AS (
  SELECT id,
         regexp_replace(
           regexp_replace(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}',
             '<EMAIL>', 'g'),
           '\\+1-[0-9]{3}-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS text
  FROM s1
),
s3 AS (
  SELECT id, text FROM s2
  QUALIFY id = MIN(id) OVER (PARTITION BY md5(text))
),
shg AS (
  SELECT id, text,
    list_distinct(
      CASE WHEN len(string_split_regex(trim(text), '\\s+')) < 3
           THEN [array_to_string(string_split_regex(trim(text), '\\s+'), ' ')]
           ELSE list_transform(
                  range(1, len(string_split_regex(trim(text), '\\s+')) - 1),
                  i -> array_to_string(
                         list_slice(string_split_regex(trim(text), '\\s+'),
                                    i, i + 2), ' '))
      END) AS sh
  FROM s3
),
sigs AS (
  SELECT id,
    md5(list_min(list_transform(sh, s -> md5('0|' || s)))
        || list_min(list_transform(sh, s -> md5('1|' || s)))) AS b0,
    md5(list_min(list_transform(sh, s -> md5('2|' || s)))
        || list_min(list_transform(sh, s -> md5('3|' || s)))) AS b1,
    md5(list_min(list_transform(sh, s -> md5('4|' || s)))
        || list_min(list_transform(sh, s -> md5('5|' || s)))) AS b2,
    md5(list_min(list_transform(sh, s -> md5('6|' || s)))
        || list_min(list_transform(sh, s -> md5('7|' || s)))) AS b3
  FROM shg
),
pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM sigs a JOIN sigs b
    ON (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2 OR a.b3 = b.b3)
  WHERE a.id < b.id
),
ver AS (
  SELECT p.id_b FROM pairs p
  JOIN shg x ON p.id_a = x.id JOIN shg y ON p.id_b = y.id
  WHERE ROUND(len(list_intersect(x.sh, y.sh)) * 1.0
              / len(list_distinct(list_concat(x.sh, y.sh))), 6) >= 0.8
),
s4 AS (SELECT id, text FROM s3 WHERE id NOT IN (SELECT id_b FROM ver)),
pts AS (SELECT id, string_split_regex(trim(text), '\\s+') AS ts FROM s4),
ch AS (
  SELECT id, r.i AS pos,
         array_to_string(ts[(r.i * 10 + 1):(r.i * 10 + 10)], ' ') AS chunk
  FROM pts, unnest(range((len(ts) + 9) // 10)) AS r(i)
),
kp AS (
  SELECT id, pos, chunk,
         ROW_NUMBER() OVER (PARTITION BY chunk ORDER BY id, pos) = 1 AS kept
  FROM ch
),
s5 AS (
  SELECT id,
         COALESCE(string_agg(CASE WHEN kept THEN chunk END, ' '
                             ORDER BY pos), '') AS text,
         ROUND(SUM(CASE WHEN kept THEN 1 ELSE 0 END) / COUNT(*), 6) AS kf
  FROM kp GROUP BY id
)
SELECT id AS doc_id, md5(text) AS text_md5 FROM s5 WHERE kf >= 0.1
"""


# ---------------------------------------------------------------------------
# q57 — transitive near-dup clustering (union-find analog, VERDICT r3 item
# 3): connected components over a planted pair graph via iterative
# min-label propagation (operators/dedup.neardup_clusters), checked
# against a DuckDB RECURSIVE-CTE reachability oracle. The graph plants
# per-decade chains b-b+1-b+2-b+3 (A~B~C with A and C never directly
# paired), a star {b+5, b+6, b+8} centered on the HIGHEST id (the shape
# where greedy pairwise dropping and transitive clustering disagree — the
# bridge b+8 is id_b of both pairs, so greedy keeps b+6 while clustering
# drops it), and a 9-node chain per century to force multi-iteration
# convergence. Reference analog: dataset grouping treats membership
# transitively (data_collector.py:156-169).
# ---------------------------------------------------------------------------

def q57_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-dedup family: transitive text near-dup connected
    components ('textdup' rows, as before) merged with SemDeDup
    (Abbas et al. 2023) embedding-space dedup ('semdedup' rows:
    nearest-centroid cluster, similarity to centroid, and the
    keep-farthest-from-centroid duplicate flag). Centroids for the
    oracle are the deterministic seed rows vec_id < 8 — the production
    path feeds similarity.train_ivf_centroids output instead."""
    _prep(spark)
    import numpy as np

    from metadata_crawler_spark.operators.dedup import (
        neardup_clusters,
        semantic_dedup,
    )

    d = _t(spark, sf_dir, "documents").select("doc_id")
    m10 = F.col("doc_id") % 10
    m100 = F.col("doc_id") % 100

    def _e(flt, delta):
        return d.filter(flt).select(
            F.col("doc_id").alias("id_a"),
            (F.col("doc_id") + delta).alias("id_b"),
        )

    pairs = (
        _e(m10 < 3, 1)                          # chains {b..b+3}
        .unionByName(_e(m10 == 5, 3))           # star edge (b+5, b+8)
        .unionByName(_e(m10 == 6, 2))           # star edge (b+6, b+8)
        .unionByName(_e((m100 >= 90) & (m100 <= 97), 1))  # long chain
    )
    text_part = neardup_clusters(pairs).select(
        F.lit("textdup").alias("part"),
        F.col("id").cast("long").alias("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
        F.lit(-1.0).alias("cent_sim"),
        F.lit(False).alias("is_dup"),
    )

    emb = _t(spark, sf_dir, "embeddings")
    seeds = (
        emb.filter(F.col("vec_id") < 8)
        .orderBy("vec_id")
        .select("embedding")
        .collect()
    )
    C = np.array([r["embedding"] for r in seeds], dtype=np.float64)
    sem = semantic_dedup(emb, "vec_id", "embedding", C, eps=0.30).select(
        F.lit("semdedup").alias("part"),
        F.col("id"),
        F.col("cluster").cast("long").alias("cluster_id"),
        F.col("cent_sim"),
        F.col("is_dup"),
    )
    return text_part.unionByName(sem)


_Q57_SQL = """
WITH RECURSIVE e0 AS (
  SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 10 < 3
  UNION ALL
  SELECT doc_id, doc_id + 3 FROM documents WHERE doc_id % 10 = 5
  UNION ALL
  SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 10 = 6
  UNION ALL
  SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 100 BETWEEN 90 AND 97
),
edges AS (
  SELECT a AS src, b AS dst FROM e0
  UNION
  SELECT b AS src, a AS dst FROM e0
),
reach AS (
  SELECT src AS id, src AS r FROM edges
  UNION
  SELECT reach.id, e.dst AS r FROM reach JOIN edges e ON e.src = reach.r
),
v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id < 8),
asg AS (
  SELECT v.vec_id, cent.cid, v.e,
         ROUND(list_dot_product(v.e, cent.ce)
               / (sqrt(list_dot_product(v.e, v.e))
                  * sqrt(list_dot_product(cent.ce, cent.ce))), 6) AS cs,
         ROW_NUMBER() OVER (
           PARTITION BY v.vec_id
           ORDER BY ROUND(list_dot_product(v.e, cent.ce)
                          / (sqrt(list_dot_product(v.e, v.e))
                             * sqrt(list_dot_product(cent.ce, cent.ce))), 6)
                    DESC, cent.cid ASC) AS rn
  FROM v CROSS JOIN cent
),
a1 AS (SELECT vec_id, cid AS cluster, cs AS cent_sim, e
       FROM asg WHERE rn = 1),
sem AS (
  SELECT a.vec_id, a.cluster, a.cent_sim,
         COALESCE(BOOL_OR(
           ROUND(list_dot_product(a.e, b.e)
                 / (sqrt(list_dot_product(a.e, a.e))
                    * sqrt(list_dot_product(b.e, b.e))), 6) >= 0.30
         ), FALSE) AS is_dup
  FROM a1 a LEFT JOIN a1 b
    ON a.cluster = b.cluster
   AND (b.cent_sim < a.cent_sim
        OR (b.cent_sim = a.cent_sim AND b.vec_id < a.vec_id))
  GROUP BY a.vec_id, a.cluster, a.cent_sim
)
SELECT 'textdup' AS part, id, MIN(r) AS cluster_id,
       -1.0 AS cent_sim, FALSE AS is_dup
FROM reach GROUP BY id
UNION ALL
SELECT 'semdedup' AS part, vec_id AS id, cluster::BIGINT AS cluster_id,
       cent_sim, is_dup
FROM sem
"""


_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    "q01_frontier_schedule": q01_frontier_schedule,
    "q02_url_canonicalize": q02_url_canonicalize,
    "q03_dedup_exact": q03_dedup_exact,
    "q04_latest_version": q04_latest_version,
    "q05_seen_antijoin": q05_seen_antijoin,
    "q06_lookup_join": q06_lookup_join,
    "q07_stale_sweep": q07_stale_sweep,
    "q08_version_rank": q08_version_rank,
    "q09_path_parse": q09_path_parse,
    "q11_daterange": q11_daterange,
    "q12_freq_infer": q12_freq_infer,
    "q13_counters": q13_counters,
    "q14_set_ops": q14_set_ops,
    "q15_facet_translate": q15_facet_translate,
    "q16_text_metrics": q16_text_metrics,
    "q20_json_extract": q20_json_extract,
    "q21_minhash_signatures": q21_minhash_signatures,
    "q22_lsh_candidate_pairs": q22_lsh_candidate_pairs,
    "q23_ngram_jaccard": q23_ngram_jaccard,
    "q24_simhash16": q24_simhash16,
    "q25_cosine_topk": q25_cosine_topk,
    "q26_embedding_neardup": q26_embedding_neardup,
    "q27_ann_lsh_topk": q27_ann_lsh_topk,
    "q28_hourly_rollup": q28_hourly_rollup,
    "q29_crawl_schedule_round": q29_crawl_schedule_round,
    "q30_bloom_membership": q30_bloom_membership,
    "q31_html_extraction": q31_html_extraction,
    "q32_catalog_explode": q32_catalog_explode,
    "q33_delete_by_facet": q33_delete_by_facet,
    "q34_special_rules": q34_special_rules,
    "q36_cube_metrics": q36_cube_metrics,
    "q38_sessionize": q38_sessionize,
    "q39_asof_join": q39_asof_join,
    "q40_pivot": q40_pivot,
    "q42_rollup_metrics": q42_rollup_metrics,
    "q43_percentiles": q43_percentiles,
    "q44_running_sum": q44_running_sum,
    "q45_change_detection": q45_change_detection,
    "q46_robots_parse": q46_robots_parse,
    "q47_timestamp_ladder": q47_timestamp_ladder,
    "q48_vocab_bm25": q48_vocab_bm25,
    "q49_contamination": q49_contamination,
    "q50_stats_rules": q50_stats_rules,
    "q51_catalog_walk": q51_catalog_walk,
    "q52_paragraph_dedup": q52_paragraph_dedup,
    "q53_doc_quality": q53_doc_quality,
    "q54_pii_redaction": q54_pii_redaction,
    "q55_model_quality": q55_model_quality,
    "q56_clean_corpus": q56_clean_corpus,
    "q57_dedup_clusters": q57_dedup_clusters,
}

_ORACLES: dict[str, str] = {
    "q01_frontier_schedule": _Q01_SQL,
    "q02_url_canonicalize": _Q02_SQL,
    "q03_dedup_exact": _Q03_SQL,
    "q04_latest_version": _Q04_SQL,
    "q05_seen_antijoin": _Q05_SQL,
    "q06_lookup_join": _Q06_SQL,
    "q07_stale_sweep": _Q07_SQL,
    "q08_version_rank": _Q08_SQL,
    "q09_path_parse": _Q09_SQL,
    "q11_daterange": _Q11_SQL,
    "q12_freq_infer": _Q12_SQL,
    "q13_counters": _Q13_SQL,
    "q14_set_ops": _Q14_SQL,
    "q15_facet_translate": _Q15_SQL,
    "q16_text_metrics": _Q16_SQL,
    "q20_json_extract": _Q20_SQL,
    "q21_minhash_signatures": _Q21_SQL,
    "q22_lsh_candidate_pairs": _Q22_SQL,
    "q23_ngram_jaccard": _Q23_SQL,
    "q24_simhash16": _Q24_SQL,
    "q25_cosine_topk": _Q25_SQL,
    "q26_embedding_neardup": _Q26_SQL,
    "q27_ann_lsh_topk": _Q27_SQL,
    "q28_hourly_rollup": _Q28_SQL,
    "q30_bloom_membership": _Q30_SQL,
    "q32_catalog_explode": _Q32_SQL,
    "q33_delete_by_facet": _Q33_SQL,
    "q34_special_rules": _Q34_SQL,
    "q36_cube_metrics": _Q36_SQL,
    "q38_sessionize": _Q38_SQL,
    "q39_asof_join": _Q39_SQL,
    "q40_pivot": _Q40_SQL,
    "q42_rollup_metrics": _Q42_SQL,
    "q43_percentiles": _Q43_SQL,
    "q44_running_sum": _Q44_SQL,
    "q45_change_detection": _Q45_SQL,
    "q46_robots_parse": _Q46_SQL,
    "q47_timestamp_ladder": _Q47_SQL,
    "q48_vocab_bm25": _Q48_SQL,
    "q49_contamination": _Q49_SQL,
    "q50_stats_rules": _Q50_SQL,
    "q51_catalog_walk": _Q51_SQL,
    "q52_paragraph_dedup": _Q52_SQL,
    "q53_doc_quality": _Q53_SQL,
    "q54_pii_redaction": _Q54_SQL,
    "q55_model_quality": _Q55_SQL,
    "q56_clean_corpus": _Q56_SQL,
    "q57_dedup_clusters": _Q57_SQL,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: one frontier-scheduling round at sf0.001."""
    return q01_frontier_schedule(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    out = dict(_ORACLES)
    # fixture-backed oracles: building them HERE also writes the fixture
    # parquet, so DuckDB can read it regardless of which side runs first
    d = _fixture_dir()
    out["q29_crawl_schedule_round"] = _q29_sql(d)
    out["q31_html_extraction"] = _q31_sql(d)
    return out
