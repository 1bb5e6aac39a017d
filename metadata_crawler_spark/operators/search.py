"""Full-text retrieval over the crawled corpus: inverted-index build +
BM25-scored top-k search.

Reference parity: the reference's end-user query surface is facet search
against the populated index store (Solr-style `metadata-crawler query`
facet lookups, /root/reference/src/metadata_crawler/api/stores/
solr.py:214-268 and cli.py query subcommand) — the crawl exists so the
corpus can be SEARCHED afterwards. Our Spark-native analog indexes the
document text itself: the index is a DataFrame of postings and search is
a declarative plan, so Catalyst gets filter pushdown / partial
aggregation / TakeOrderedAndProject for free.

Design for 10^10 docs:

- **Index build** (`build_postings` + `build_lexicon`): tokens explode
  map-side; the ONLY corpus-wide shuffle is the (token, doc) partial-agg
  count. Document length is DENORMALIZED into every posting at build
  time (classic impact-index practice) so query-time scoring needs no
  doc-table join. The lexicon (token -> document frequency) is one more
  partial-agg shuffle of (token) pairs at build time — tiny rows.
- **Standing index** (`write_search_index` / `search_index_topk`):
  postings land PARTITIONED BY a hash of the token (``pt``), so a query
  reads only its |terms| hash partitions via an IN-list partition filter
  — the same pruned-read contract as the IVF inverted file
  (similarity.py write_ivf_corpus).
- **Query** (`bm25_topk`): filter postings to the query's terms (pushed
  to the scan), broadcast-join the per-term idf (|terms| rows), score
  each posting with the Lucene BM25 formula in pure column expressions,
  sum per doc (partial-agg absorbs hot terms map-side), and take the
  top-k with orderBy+limit — Spark plans TakeOrderedAndProject, never a
  full sort shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def tokens_expr(text: Column) -> Column:
    """Whitespace tokens of ``text`` with empties removed (NULL-safe).
    Delegates to the SHARED vocabulary tokenizer (quality's
    _nonempty_tokens) so index terms and corpus stats can't drift —
    only the NULL-coalesce is added here."""
    from ..functions.quality import _nonempty_tokens

    return _nonempty_tokens(F.coalesce(text, F.lit("")))


def build_postings(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Inverted-index postings: one row per (token, doc) with the term
    frequency and the DENORMALIZED document length ``dl`` — query-time
    scoring then never joins back to the corpus. One shuffle (the
    (token, id) count), partial-agg friendly; document bodies never move
    (tokens explode map-side off the scan)."""
    # tokens_expr is materialized ONCE in a child projection: written as
    # two sibling tokens_expr(...) calls, Catalyst treats them as separate
    # trees and re-runs the split+trim over every full document body
    # (the langid lambda-CSE hazard). CollapseProject refuses to inline a
    # non-cheap alias used twice — and explode_OUTER (not explode) keeps
    # InferFiltersFromGenerate from re-inlining the tokenizer into a
    # pushed-down size()>0 filter; empty docs surface as one NULL-token
    # row dropped by a cheap attribute filter instead.
    tokarr = df.select(
        F.col(id_col).alias("id"),
        tokens_expr(F.col(text_col)).alias("_toks"),
    )
    toks = tokarr.select(
        "id",
        F.explode_outer("_toks").alias("token"),
        F.size("_toks").alias("dl"),
    ).filter(F.col("token").isNotNull())
    return toks.groupBy("token", "id", "dl").agg(
        F.count(F.lit(1)).alias("tf")
    )


def build_lexicon(postings: DataFrame) -> DataFrame:
    """Token -> document frequency. One (token)-keyed partial-agg shuffle
    of the postings (id/tf pruned at the scan)."""
    return postings.groupBy("token").agg(F.count(F.lit(1)).alias("df"))


def corpus_stats(df: DataFrame, text_col: str = "text") -> tuple[int, float]:
    """(n_docs, avg doc length) — ONE aggregate job returning two
    scalars; the only driver-side data this module ever collects."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.avg(F.size(tokens_expr(F.col(text_col)))).alias("avgdl"),
    ).first()
    return int(row["n"]), float(row["avgdl"] or 0.0)


def bm25_score_expr(
    tf: Column,
    df_: Column,
    dl: Column,
    n_docs: int,
    avgdl: float,
    k1: float = 1.2,
    b: float = 0.75,
) -> Column:
    """Lucene-variant BM25 for one posting, pure column arithmetic:
    idf = ln(1 + (N - df + .5)/(df + .5)); tf saturation with length
    normalization. Whole-stage-codegen'd."""
    idf = F.log(
        F.lit(1.0)
        + (F.lit(float(n_docs)) - df_ + F.lit(0.5)) / (df_ + F.lit(0.5))
    )
    norm = tf + F.lit(k1) * (
        F.lit(1.0 - b) + F.lit(b) * dl / F.lit(float(avgdl))
    )
    return idf * tf * F.lit(k1 + 1.0) / norm


def bm25_topk(
    postings: DataFrame,
    lexicon: DataFrame,
    terms: list[str],
    n_docs: int,
    avgdl: float,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Top-``k`` documents for a bag-of-words query, (id, score, n_hit).

    Plan: the term IN-list filter reaches the postings scan (pushed
    filter / partition pruning on a standing index); the per-term df
    joins in broadcast (|terms| rows); the per-doc sum is one
    partial-agg shuffle of (id, partial score); orderBy+limit plans
    TakeOrderedAndProject. ``n_hit`` (matched-term count) rides the same
    aggregate. Ties break on id ascending for determinism."""
    hits = postings.filter(F.col("token").isin(list(terms)))
    lex = lexicon.filter(F.col("token").isin(list(terms)))
    scored = hits.join(F.broadcast(lex), "token").select(
        "id",
        bm25_score_expr(
            F.col("tf").cast("double"),
            F.col("df").cast("double"),
            F.col("dl").cast("double"),
            n_docs,
            avgdl,
            k1=k1,
            b=b,
        ).alias("s"),
    )
    return (
        scored.groupBy("id")
        .agg(F.sum("s").alias("score"), F.count(F.lit(1)).alias("n_hit"))
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )


def bm25_topk_batch(
    postings: DataFrame,
    lexicon: DataFrame,
    queries: DataFrame,
    n_docs: int,
    avgdl: float,
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    query_id_col: str = "query_id",
    text_col: str = "query",
) -> DataFrame:
    """Top-``k`` per query for a whole QUERY TABLE at once — the batch
    path a query workload (eval suites, router training, mining) needs:
    scoring 10^4 queries one `bm25_topk` at a time would launch 10^4
    jobs; this is ONE plan.

    (query_id, token) pairs explode map-side from the query table and
    semi-select the postings via a BROADCAST join (the query table is
    small next to a 10^10-doc index — Catalyst broadcasts it; the big
    postings side never shuffles for the match). The matched slice then
    makes exactly ONE exchange, keyed query_id: hashpartitioning on the
    query alone satisfies both the (query_id, id) sum (grouping keys may
    be a superset of the partitioning) AND the per-query rank window
    (whose required clustering is query_id exactly — partitioning on
    (query_id, id) would NOT satisfy it, which is why the repartition
    comes first instead of letting the agg pick its own keys).
    Returns (query_id, id, score, n_hit, rank).
    """
    qt = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.explode(tokens_expr(F.col(text_col))).alias("token"),
    ).distinct()
    lex_b = F.broadcast(
        qt.join(lexicon, "token").select("query_id", "token", "df")
    )
    scored = postings.join(lex_b, "token").select(
        "query_id",
        "id",
        bm25_score_expr(
            F.col("tf").cast("double"),
            F.col("df").cast("double"),
            F.col("dl").cast("double"),
            n_docs,
            avgdl,
            k1=k1,
            b=b,
        ).alias("s"),
    )
    agg = scored.repartition("query_id").groupBy("query_id", "id").agg(
        F.sum("s").alias("score"), F.count(F.lit(1)).alias("n_hit")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc()
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def write_search_index(
    postings: DataFrame, path: str, n_parts: int = 256
) -> None:
    """Persist postings PARTITIONED BY ``pt = pmod(xxhash64(token), n)``
    — the on-disk inverted file. A query's terms map to at most |terms|
    ``pt`` values, so `search_index_topk` reads only those directories.
    Hot tokens (stopwords) skew a pt partition's SIZE but not the write
    (partitionBy splits by value, tasks stay balanced on input splits)."""
    postings.withColumn(
        "pt", F.pmod(F.xxhash64("token"), F.lit(n_parts)).cast("int")
    ).write.mode("overwrite").partitionBy("pt").parquet(path)


def term_partitions(spark, terms: list[str], n_parts: int = 256) -> list[int]:
    """The pt partition ids for ``terms`` — computed THROUGH Spark's own
    xxhash64 (1-row-per-term job; never reimplemented driver-side)."""
    rows = (
        spark.createDataFrame([(t,) for t in terms], "token string")
        .select(F.pmod(F.xxhash64("token"), F.lit(n_parts)).cast("int").alias("pt"))
        .collect()
    )
    return sorted({int(r["pt"]) for r in rows})


def search_index_topk(
    spark,
    index_path: str,
    lexicon: DataFrame,
    terms: list[str],
    n_docs: int,
    avgdl: float,
    k: int = 10,
    n_parts: int = 256,
    **kw,
) -> DataFrame:
    """BM25 against a `write_search_index` table: the term set becomes an
    IN-list partition filter on ``pt`` (only |terms| directories are
    scanned) plus the exact token filter inside them."""
    pts = term_partitions(spark, terms, n_parts)
    postings = spark.read.parquet(index_path).filter(F.col("pt").isin(pts))
    return bm25_topk(postings, lexicon, terms, n_docs, avgdl, k=k, **kw)
