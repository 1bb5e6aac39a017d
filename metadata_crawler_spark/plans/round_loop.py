"""The crawl round loop: micro-batch BFS rounds, checkpoint-resumable.

Reference parity (the flagship ``add()`` lifecycle, /root/reference/src/
metadata_crawler/run.py:305-518 + data_collector.py:232-273): discovery
workers walk the tree and enqueue hits; consumer processes extract facets;
a writer daemon upserts batches; the driver finalizes with a sweep and a
catalogue descriptor. One asyncio recursion = our one round; its bounded
queues = our shuffle boundaries; its unique-index upserts = our seen-set.

One round here is ONE declarative DataFrame DAG:

  frontier delta  --dedup (bloom + exact anti-join)-->  new URLs
    --robots/budget joins + salted per-host top-k-->    scheduled
    --join pages snapshot (broadcast the small side)--> fetchable
    --mapInPandas fetch/extract (politeness enforced
      inside the batch: rank*crawl_delay offsets)-->    fetched
    --explode outlinks + OPIC split-->                  next frontier delta

and the commit is: write round-scoped parquet for {scheduled (which IS
the seen-delta: attempted = seen), fetched, frontier-delta, bloom,
metrics}, then atomically flip the
manifest pointer (sources/tables.ManifestLog). Kill the process anywhere
before the flip and the round never happened; re-running overwrites the
same round-scoped paths — idempotent replay (SURVEY §7 hard part d).

Scale notes (the 100 TB / 10^10-URL shape this is designed for):
- the frontier delta is small relative to `pages`; Catalyst broadcasts it
  into the fetch join so the pages table is never shuffled. On a real
  cluster `pages` is an Iceberg table bucketed by bucket(url) and the join
  is storage-partitioned instead.
- dedup touches the exact seen table only for the Bloom "maybe" slice.
- the per-host top-k is two-stage + salted; the hot host never serializes
  one task (the reference's known weakness, SURVEY §4 "skew handling").
- crawl ordering is a pure function of data (depth ASC, score DESC,
  url ASC), never of partition count — verified by tests running the same
  crawl at different parallelism.
"""

from __future__ import annotations

import math
import os
import time
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.text import _decode, _extract_text_batch, _HREF_RE, _META_LANG_RE
from ..functions.urls import canonicalize_udf, with_canonical, with_url_hash
# per_host_topk and with_politeness_schedule are not called in this
# module (schedule_eligible composes them); they stay module attributes
# because perfbench/spans.py wraps them by name on this module.
from ..operators.frontier import (  # noqa: F401
    expand_outlinks,
    gate_frontier,
    per_host_topk,
    schedule_eligible,
    small_enough_to_broadcast,
    valid_urls,
    with_politeness_schedule,
)
from ..operators.seen import bloom_build, bloom_params, bloom_union, dedup_against_seen
from ..operators.versioning import latest_per_key
from ..sources.tables import (
    ManifestLog,
    path_exists,
    read_rounds,
    write_round_table,
)


class EmptyCrawl(RuntimeError):
    """Raised when a finished crawl fetched fewer objects than
    ``fail_under`` (reference: run.py:510-515 + EmptyCrawl)."""


@dataclass
class CrawlConfig:
    n_shards: int = 32
    bloom_fpr: float = 0.01
    bloom_expected_per_shard: int = 50_000
    salt_parts: int = 8
    default_budget: int = 8
    #: cap on URLs scheduled per round (the MDC_MAX_FILES test valve,
    #: reference data_collector.py:87,131-136); None = unlimited
    max_urls_per_round: int | None = None
    #: minimum total fetched after run() completes, else EmptyCrawl
    #: (reference --fail-under, run.py:510-515)
    fail_under: int | None = None
    #: scheduled sets larger than this are NOT broadcast into the fetch
    #: join (the observed count is known before the join is built); the
    #: join falls back to a shuffle join — at cluster scale the right
    #: answer is the bucketed/storage-partitioned pages table
    #: (sources/tables.write_bucketed), which needs no broadcast either.
    scheduled_broadcast_max_rows: int = 5_000_000
    #: name of a pre-ingested bucketed pages table — columns
    #: (page_url, warc_ts, html), bucketed+sorted BY page_url, already
    #: canonical+latest (see ingest_bucketed_pages). When set it replaces
    #: the parquet snapshot, so the over-broadcast fetch-join fallback is a
    #: co-located join with NO Exchange on the 100 TB pages side (the
    #: Iceberg storage-partitioned-join analog).
    bucketed_pages_table: str | None = None
    #: seen-set compaction cadence (Iceberg snapshot-expiry analog,
    #: VERDICT r3 item 4): every k rounds the per-round scheduled deltas
    #: are consolidated into ONE distinct (url_hash_hi, url_hash_lo)
    #: parquet, and the manifest records seen_compacted_upto. Without it
    #: the seen snapshot read unions EVERY prior round's scheduled dir —
    #: at 10^3-10^4 rounds that is thousands of paths and a linearly
    #: growing driver listing per round. With it the read touches
    #: 1 + (rounds since last compaction) <= k+1 paths. None disables.
    seen_compact_every: int | None = 64
    #: periodic PageRank frontier re-scoring (VERDICT r4 item 8): every k
    #: rounds the next frontier's OPIC scores are replaced by a fixed-
    #: iteration PageRank over the link graph accumulated in the committed
    #: fetched tables (operators/frontier.rescore_frontier) — OPIC's local
    #: cash-splitting keeps rounds cheap; the periodic global sweep
    #: re-prioritizes by link authority. None/0 = off (default).
    pagerank_every: int | None = None
    #: serialize fetch offsets across ALL subdomains of one registrable
    #: domain (PSL — operators/frontier.with_site): a thousand
    #: *.blogspot.com hosts stop hitting the origin simultaneously.
    #: Robots matching and budgets stay per-host (RFC 9309 origin scope).
    #: Costs one site-keyed window per round; off by default.
    site_politeness: bool = False
    #: PSL rule overrides for site grouping (None = builtin subset;
    #: production passes the full downloaded public-suffix list)
    psl_rules: tuple | None = None
    pagerank_iterations: int = 3
    #: periodic host-blocklist mining (functions/urls.mine_blocked_hosts):
    #: every N rounds, Gopher-flag the accumulated fetched text, mine
    #: hosts whose documents are mostly junk (support-gated), commit the
    #: candidates as this round's `blocklist` table, and drop their urls
    #: (incl. subdomains) from the next frontier — the RefinedWeb
    #: host-level cut closing the loop corpus quality -> frontier. Off by
    #: default; None mines never.
    blocklist_every: int | None = None
    blocklist_min_docs: int = 20
    blocklist_max_flag_frac: float = 0.5
    #: periodic content-aware crawler-trap sweep (operators/traps): every
    #: N rounds, mine hosts whose fetched slice shows novelty collapse
    #: (many urls, few distinct bodies) or url-template dominance, commit
    #: the report as this round's `trap_hosts` table, and drop their urls
    #: from the next frontier. Incremental like the blocklist sweep:
    #: additive (domain, template, n) partials + mergeable per-host HLL
    #: novelty sketches, each sweep covering exactly its own span — never
    #: a rescan of crawl history. Off by default.
    trap_every: int | None = None
    trap_min_urls: int = 50
    trap_max_novelty: float = 0.2
    #: approximate seen-set tier: "bloom" (append-only, OR-union
    #: evolution, smallest bytes/key) or "cuckoo" (Fan et al. 2014 —
    #: deletable, so facet purges / stale sweeps can evict keys; evolves
    #: by absorbing each round's key batch via cuckoo_insert). Same
    #: sharding, same no-false-negative contract, same broadcast vs
    #: cogrouped probe switch.
    seen_filter: str = "bloom"
    #: per-host distinct-URL cardinality sketches (operators/sketches):
    #: when on, each round also commits one HLL sketch row per host over
    #: its scheduled URLs. Running per-host cardinalities then come from
    #: merging the sketch tables — O(hosts x 2.5 KiB) per round, never a
    #: re-read of the scheduled history. The 100 TB answer to "how much
    #: of host X have we covered?" (the reference answers its coverage
    #: questions by re-counting the store, api/stores/base.py).
    host_sketch: bool = False
    #: AIMD per-host budget adaptation (operators/frontier.
    #: update_host_budgets): after each round, hosts with a healthy fetch
    #: rate earn additive budget, failing hosts take a multiplicative
    #: cut; the evolved hosts table checkpoints per round (resume-safe,
    #: same contract as the seen filter). Off by default — budgets then
    #: stay the static table the caller provided.
    adapt_budgets: bool = False


#: auto-flip threshold for broadcasting the sharded bloom filter: above this
#: the 10^10-URL cogrouped probe path is used (a 10-bits/key filter over
#: 10^10 keys is ~12 GB — never broadcastable)
BLOOM_BROADCAST_MAX_BYTES = 256 * 1024 * 1024

#: combined-score rounding — floating sums across shuffles are not
#: bit-reproducible; 9 decimals makes ordering data-deterministic.
SCORE_DECIMALS = 9

#: per-round shuffle width bounds (see _round_width)
ROWS_PER_SHUFFLE_PARTITION = 50_000
MAX_SHUFFLE_PARTITIONS = 32_768


def _round_width(frontier_rows: int, cores: int) -> int:
    """The round's ``spark.sql.shuffle.partitions``, from its OBSERVED
    frontier size: ~ROWS_PER_SHUFFLE_PARTITION rows per partition,
    floored at the core count once a round can use every core, capped at
    MAX_SHUFFLE_PARTITIONS. Small rounds stop fanning into near-empty
    partitions; 10^10-row rounds fan past the session constant. AQE still
    coalesces below."""
    width = max(1, math.ceil(frontier_rows / ROWS_PER_SHUFFLE_PARTITION))
    # ADVICE r3 dead-zone fix: a frontier just under
    # ROWS_PER_SHUFFLE_PARTITION used to get width=1 on a 32-core
    # session, serializing every shuffle that round. Engage the
    # core-count floor as soon as there is enough work to split
    # (>= ~128 rows/core), not only at the full-partition mark.
    if frontier_rows >= 128 * cores:
        width = max(width, cores)
    elif frontier_rows >= 256:
        width = max(width, min(cores, math.ceil(frontier_rows / 128)))
    return min(width, MAX_SHUFFLE_PARTITIONS)


FETCH_SCHEMA = (
    "url string, host string, depth int, score double, rank int, "
    "crawl_delay_ms long, fetch_offset_ms long, url_hash_hi long, "
    "url_hash_lo long, fetched boolean, warc_ts timestamp_ntz, "
    "text string, lang string, links array<string>, planned_ms long, "
    "batch_id long"
)

#: hoisted once (VERDICT r2): fromDDL parses per call — not per round
_FETCH_COLS: tuple[str, ...] = tuple(
    f.split(" ")[0] for f in FETCH_SCHEMA.split(", ")
)


def _fetch_batches(it):
    """mapInPandas fetch/extract: politeness is enforced INSIDE the batch
    (north rule) — rows execute in (host, rank) order with planned start
    offsets rank*crawl_delay; no sleeping, the offset schedule and the
    per-batch planned wall (max offset) are emitted as metrics. Extraction
    is the same vectorized pandas pipeline the UDF tier uses, so ``text``
    stays byte-identical per url."""
    from pyspark import TaskContext

    # the FETCH-time batch identity, stamped into the rows: the metrics
    # rollup groups on this, not on spark_partition_id() over the
    # re-read parquet (file packing merges written files into read
    # partitions, which would average the politeness wall across
    # unrelated batches)
    ctx = TaskContext.get()
    batch_id = int(ctx.partitionId()) if ctx is not None else -1
    for pdf in it:
        if pdf.empty:
            continue
        pdf = pdf.sort_values(["host", "rank", "url"], kind="mergesort").reset_index(
            drop=True
        )
        has_html = pdf["html"].notna()
        html = pdf["html"].where(has_html, b"")
        text = _extract_text_batch(html)
        dec = _decode(html)
        links = dec.str.findall(_HREF_RE)
        lang = dec.str.extract(_META_LANG_RE, expand=False).fillna("unknown").str.lower()
        planned = (
            pdf.groupby("host")["fetch_offset_ms"].transform("max").astype("int64")
        )
        out = pdf.drop(columns=["html"]).assign(
            fetched=has_html,
            text=text.where(has_html, None),
            lang=lang.where(has_html, None),
            links=links.where(has_html, None),
            planned_ms=planned,
            batch_id=batch_id,
        )
        yield out


def ingest_bucketed_pages(
    spark: SparkSession,
    pages_path: str,
    table_name: str,
    n_buckets: int = 64,
) -> None:
    """One-time ingest of a raw pages corpus into the bucketed fetch-join
    layout: canonicalize urls, keep latest-per-url, bucket+sort by
    ``page_url`` (sources/tables.write_bucketed). Pay the shuffle ONCE at
    ingest; every crawl round's fetch join then co-locates for free —
    the Iceberg ``PARTITIONED BY bucket(n, url)`` analog for the 100 TB
    pages table."""
    from ..sources.tables import write_bucketed

    snap = derive_pages_snapshot(spark.read.parquet(pages_path))
    write_bucketed(snap, table_name, "page_url", n_buckets=n_buckets)


def derive_pages_snapshot(raw: DataFrame) -> DataFrame:
    """THE canonical-url latest-per-url snapshot derivation, shared by
    the bucketed ingest and the per-run parquet path (one definition so
    a tiebreak/canonicalization change can never make the two fetch-join
    sources disagree)."""
    canon = raw.withColumn("url_canon", canonicalize_udf("url"))
    latest = latest_per_key(canon, "url_canon", "warc_ts", tiebreak="url")
    return latest.select(
        F.col("url_canon").alias("page_url"), "warc_ts", "html"
    )


def _combine_frontier(df: DataFrame) -> DataFrame:
    """OPIC combine of duplicate discoveries: sum the cash, keep min depth,
    deterministic url representative (all dups share the canonical url)."""
    return (
        df.groupBy("url_hash_hi", "url_hash_lo")
        .agg(
            F.min("url").alias("url"),
            F.min("depth").alias("depth"),
            F.round(F.sum("score"), SCORE_DECIMALS).alias("score"),
        )
    )


def frontier_delta(df: DataFrame) -> DataFrame:
    """The frontier prelude every scheduling entry point shares: raw
    ``(url, depth, score)`` discoveries -> canonical url -> schedulable
    urls only -> 128-bit key -> OPIC combine. Returns one row per key:
    (url_hash_hi, url_hash_lo, url, depth, score)."""
    f = with_canonical(df.select("url", "depth", "score"), "url")
    return _combine_frontier(with_url_hash(valid_urls(f)))


@dataclass
class Crawler:
    spark: SparkSession
    pages_path: str
    robots: DataFrame
    hosts: DataFrame
    checkpoint_dir: str
    config: CrawlConfig = field(default_factory=CrawlConfig)

    def __post_init__(self):
        self.log = ManifestLog(self.checkpoint_dir)
        self._pages_snapshot: DataFrame | None = None
        self._robots_broadcast: bool | None = None
        self._hosts_broadcast: bool | None = None

    def robots_broadcast(self) -> bool:
        """Size-based robots join switch, decided once per Crawler: a
        bounded limit-probe (scans at most MAX+1 rows) — broadcast small
        rules tables, shuffle-join the 10^8-host ones."""
        if self._robots_broadcast is None:
            self._robots_broadcast = small_enough_to_broadcast(
                self.robots.select("host")
            )
        return self._robots_broadcast

    def hosts_broadcast(self) -> bool:
        """Same switch for the hosts budget table — at 10^8 hosts it has
        the same cardinality as robots (ADVICE r2)."""
        if self._hosts_broadcast is None:
            self._hosts_broadcast = small_enough_to_broadcast(
                self.hosts.select("host")
            )
        return self._hosts_broadcast

    def bloom_broadcast(self) -> bool:
        """Size-based bloom probe switch: total filter bytes follow from
        config arithmetic (shards x m_bits) — no job needed."""
        cfg = self.config
        if cfg.seen_filter == "cuckoo":
            from ..operators.seen import _CK_SLOTS, cuckoo_params

            nb = cuckoo_params(cfg.bloom_expected_per_shard)
            return nb * _CK_SLOTS * 2 * cfg.n_shards <= BLOOM_BROADCAST_MAX_BYTES
        m, _ = bloom_params(cfg.bloom_expected_per_shard, cfg.bloom_fpr)
        return (m // 8) * cfg.n_shards <= BLOOM_BROADCAST_MAX_BYTES

    # -- inputs ------------------------------------------------------------
    def pages_snapshot(self) -> DataFrame:
        """Canonicalized, latest-per-url view of the pages table (the
        reference's rank-0/latest semantics, data_collector.py:156-169).
        Derived once per run; on a real cluster this is an Iceberg snapshot.

        With ``config.bucketed_pages_table`` set, the snapshot IS that
        table (canonical url + latest computed once at ingest,
        ingest_bucketed_pages): scans prune to the join's buckets and the
        fetch join needs no Exchange on this side — no persist either."""
        if self.config.bucketed_pages_table:
            return self.spark.table(self.config.bucketed_pages_table).select(
                "page_url", "warc_ts", "html"
            )
        if self._pages_snapshot is None:
            # derive_pages_snapshot, NOT with_canonical: the split-union
            # scans its input twice, and THIS input is the 100 TB pages
            # table (html bytes included) — one scan + url-only Arrow
            # transfer is strictly cheaper. At cluster scale the
            # canonical url is computed once at ingest and stored (see
            # sources/warc.py), not per run. Persisted: every round
            # joins against this snapshot; on a cluster this is the
            # bucketed Iceberg table itself, not a recomputation.
            self._pages_snapshot = derive_pages_snapshot(
                self.spark.read.parquet(self.pages_path)
            ).persist()
        return self._pages_snapshot

    # -- state -------------------------------------------------------------
    def seen_input_paths(self, upto: int) -> list[str]:
        """The parquet paths the seen-snapshot read touches: consolidated
        seen_compact (if the manifest records one at round c <= upto) plus
        only the scheduled deltas AFTER it. Factored out so tests can
        assert the O(seen_compact_every) path bound without instrumenting
        the reader."""
        from ..sources.tables import round_table_paths

        state = self.log.read() or {}
        c = state.get("seen_compacted_upto", -1)
        paths: list[str] = []
        lo = 0
        if 0 <= c <= upto:
            cp = os.path.join(
                self.checkpoint_dir, f"round={c:05d}", "seen_compact"
            )
            if path_exists(cp):
                paths.append(cp)
                lo = c + 1
        paths += round_table_paths(self.checkpoint_dir, "scheduled", upto, lo)
        return paths

    def _read_seen(self, upto: int) -> DataFrame | None:
        """Seen snapshot as (url_hash_hi, url_hash_lo), reading EXACTLY
        the paths :meth:`seen_input_paths` resolves — one source of
        truth for the compact/lo logic, so the tested
        O(seen_compact_every) path bound and the real read can't drift.
        The consolidated table and the scheduled deltas have different
        schemas, so each group is read separately and unioned on the
        two hash columns (parquet column pruning keeps the delta read
        2-column either way)."""
        paths = self.seen_input_paths(upto)
        compact = [p for p in paths if p.endswith("seen_compact")]
        deltas = [p for p in paths if not p.endswith("seen_compact")]
        parts: list[DataFrame] = []
        if compact:
            parts.append(self.spark.read.parquet(*compact))
        if deltas:
            parts.append(
                self.spark.read.parquet(*deltas)
                .select("url_hash_hi", "url_hash_lo")
            )
        if not parts:
            return None
        seen = parts[0]
        for p in parts[1:]:
            seen = seen.unionByName(p)
        return seen

    def _maybe_compact_seen(self, round_no: int, state: dict) -> dict:
        """Consolidate the seen set every ``seen_compact_every`` rounds
        (called just before the manifest commit, so the pointer flip that
        publishes the round also publishes the compaction — crash between
        the parquet write and the commit leaves an invisible orphan dir
        that the idempotent re-run overwrites)."""
        k = self.config.seen_compact_every
        if not k:
            return state
        c = state.get("seen_compacted_upto", -1)
        if round_no - c < k:
            return state
        seen = self._read_seen(round_no)
        if seen is None:
            return state
        write_round_table(
            seen.distinct(), self.checkpoint_dir, round_no, "seen_compact"
        )
        state["seen_compacted_upto"] = round_no
        return state

    def _load_state(self, upto: int):
        # the seen set IS the union of scheduled sets (attempted = seen):
        # no separate seen_delta table — parquet column pruning makes this
        # a 2-column read, and compaction bounds it to O(k) paths
        seen = self._read_seen(upto)
        bloom_path = os.path.join(self.checkpoint_dir, f"round={upto:05d}", "bloom")
        bloom = (
            self.spark.read.parquet(bloom_path)
            if path_exists(bloom_path)
            else None
        )
        frontier_path = os.path.join(
            self.checkpoint_dir, f"round={upto:05d}", "frontier_next"
        )
        frontier = (
            self.spark.read.parquet(frontier_path)
            if path_exists(frontier_path)
            else None
        )
        return seen, bloom, frontier

    def _hosts_for_round(self, round_no: int) -> DataFrame:
        """The hosts/budget table this round gates with: the static caller
        table, or — with ``adapt_budgets`` — the previous round's evolved
        checkpoint (read from parquet so resume is byte-identical to a
        straight run)."""
        if not self.config.adapt_budgets or round_no == 0:
            return self.hosts
        path = os.path.join(
            self.checkpoint_dir, f"round={round_no - 1:05d}", "hosts"
        )
        return self.spark.read.parquet(path) if path_exists(path) else self.hosts

    def host_cardinalities(self, upto: int) -> DataFrame:
        """(host, n_distinct) estimated distinct URLs scheduled per host
        across rounds [0, upto] — from the committed per-round HLL
        sketch tables ONLY (requires config.host_sketch). Work is
        O(hosts x rounds) sketch rows; the scheduled history is never
        re-read. Per-round sketch unioned == whole-history rebuild is
        the tested HLL invariant (test_sketches.py)."""
        from ..operators.sketches import hll_estimates, hll_merge
        from ..sources.tables import round_table_paths

        paths = round_table_paths(self.checkpoint_dir, "host_sketch", upto)
        if not paths:
            raise ValueError(
                "no host_sketch tables committed — enable CrawlConfig.host_sketch"
            )
        return hll_estimates(
            hll_merge(self.spark.read.parquet(*paths), ["host"]), ["host"]
        )

    # -- one round ---------------------------------------------------------
    def run_round(
        self,
        round_no: int,
        frontier: DataFrame,
        seen: DataFrame | None,
        bloom: DataFrame | None,
        frontier_in_hint: int | None = None,
    ) -> dict:
        from pyspark.sql import Observation

        cfg = self.config
        t0 = time.time()

        frontier = frontier.persist()
        # r6: for resumed/continued rounds the frontier size is ALREADY
        # known exactly — it is the previous round's frontier_next
        # Observation (== rows written == rows of this frontier's
        # parquet), passed down by run(). The count job is then skipped;
        # the persist materializes lazily inside the first consuming job
        # (block-level cache locks keep the two dedup branches from
        # computing it twice). Round 0 (seed chain, size unknown) still
        # counts.
        frontier_in = (
            frontier_in_hint if frontier_in_hint is not None
            else frontier.count()
        )
        width = _round_width(
            frontier_in, self.spark.sparkContext.defaultParallelism
        )
        self.spark.conf.set("spark.sql.shuffle.partitions", str(width))
        # the deduped count rides an Observation on the gated pipeline —
        # new_urls has exactly one consumer (gate_frontier), so it needs
        # neither its own persist nor a separate count job
        obs_dedup = Observation(f"dedup_{round_no}")
        is_cuckoo = cfg.seen_filter == "cuckoo"
        new_urls = dedup_against_seen(
            frontier, seen, None if is_cuckoo else bloom,
            cfg.n_shards, self.bloom_broadcast(),
            cuckoo=bloom if is_cuckoo else None,
        ).observe(obs_dedup, F.count(F.lit(1)).alias("n"))
        # gates split from top-k so the carryover can be computed from the
        # ELIGIBLE set: URLs dropped by validity/robots are permanently
        # blocked and must not ride the frontier forever (they would never
        # be scheduled, never enter seen, and re-pay the gates every round)
        hosts_cur = self._hosts_for_round(round_no)
        gated = gate_frontier(
            new_urls, hosts_cur, self.robots, cfg.default_budget,
            self.robots_broadcast(), self.hosts_broadcast(),
        ).persist()
        scheduled = schedule_eligible(
            gated, cfg.salt_parts, cfg.site_politeness, cfg.psl_rules
        )
        if cfg.max_urls_per_round is not None:
            # deterministic valve: global order, not task order
            scheduled = (
                scheduled.orderBy("depth", F.col("score").desc(), "url")
                .limit(cfg.max_urls_per_round)
            )
        scheduled = scheduled.select(
            "url", "host", "depth", "score", "rank", "crawl_delay_ms",
            "fetch_offset_ms", "url_hash_hi", "url_hash_lo",
        )
        # r6 (guide §2.6, measured +~0.3 s/round): the scheduled table's
        # parquet write used to be a blocking barrier here (write, then
        # read back) although every in-round consumer needs only the
        # ROWS. Now the pipeline materializes into a persisted cache
        # (the count is the materializing action — it also yields
        # scheduled_n for the broadcast gate), and the parquet write
        # serializes FROM that cache on the driver pool, overlapping the
        # fetch join below. Content is identical — the write emits the
        # exact cached rows the consumers read — and the pre-manifest
        # barrier still gates the commit on the write succeeding, so
        # replay/resume semantics are unchanged (the next round's
        # _load_state still reads only committed parquet).
        # Recompute-safety: an evicted cache block is recomputed from the
        # pipeline, and the recompute yields the same rows because the
        # schedule is a pure function of the data — a TOTAL (depth,
        # score desc, url) order, independent of salt and partitioning
        # (pinned by test_topk_invariant_to_salt_and_partitions). The
        # write and the fetch join therefore always see one scheduled set.
        scheduled = scheduled.persist()
        scheduled_n = scheduled.count()
        t_sched = time.time()

        # r6 (guide §2.6 "overlap independent jobs"): a round's commit is
        # latency-bound by its ACTION count, not its data volume, and
        # four of the per-round jobs are mutually independent once the
        # scheduled ROWS are materialized in the cache above — the
        # scheduled parquet write itself, the fetch/extract join, the
        # seen-filter evolution (reads only scheduled keys) and the host
        # sketch. They now run as concurrent jobs from a small driver
        # pool (FIFO scheduler back-fills the tail of each stage), with
        # the critical path (fetch -> next frontier) staying on this
        # thread. Each job's CONTENT is untouched — same writes, same
        # paths, same Observations — so replay/commit semantics are
        # byte-identical; .result() re-raises any worker failure before
        # the manifest flip. The sweeps are the one consumer family that
        # reads COMMITTED parquet mid-round — they read only `fetched`
        # tables and explicitly join that write first (fut_fetch gate
        # below); nothing in-round reads the scheduled parquet.
        from concurrent.futures import ThreadPoolExecutor

        def _evolve_filter():
            # filter evolution — bloom: OR-in this round's keys (append,
            # never rebuild); cuckoo: absorb the key batch into the
            # standing tables (insert-in-place, deletable later)
            round_keys = scheduled.select("url_hash_hi", "url_hash_lo")
            if is_cuckoo:
                from ..operators.seen import cuckoo_build, cuckoo_insert

                new_bloom = (
                    cuckoo_insert(bloom, round_keys)
                    if bloom is not None
                    else cuckoo_build(
                        round_keys, cfg.n_shards,
                        expected_per_shard=cfg.bloom_expected_per_shard,
                    )
                )
            else:
                delta_bloom = bloom_build(
                    round_keys,
                    cfg.n_shards,
                    cfg.bloom_fpr,
                    cfg.bloom_expected_per_shard,
                )
                new_bloom = (
                    bloom_union(bloom, delta_bloom)
                    if bloom is not None
                    else delta_bloom
                )
            bloom_out = os.path.join(
                self.checkpoint_dir, f"round={round_no:05d}", "bloom"
            )
            new_bloom.write.mode("overwrite").parquet(bloom_out)

        def _write_host_sketch():
            # per-round host-cardinality sketch (config-gated): one HLL
            # row per host over the round's scheduled URLs, committed
            # beside the round. Reads the persisted scheduled cache, not
            # the scheduled parquet (whose write may still be running);
            # the groupBy merges partial sketches map-side. Nothing
            # in-round consumes it (host_cardinalities reads committed
            # rounds), so it rides the pool instead of blocking the
            # critical path (§2.6);
            # the barrier below still gates the manifest flip on it.
            from ..operators.sketches import hll_sketches

            write_round_table(
                hll_sketches(scheduled, ["host"], "url"),
                self.checkpoint_dir, round_no, "host_sketch",
            )

        pool = ThreadPoolExecutor(max_workers=3)
        try:
            # every job the manifest flip must wait for, except the
            # fetched write (fut_fetch: sweep rounds join it early, and
            # its value is the round's fetched count)
            barrier = [
                pool.submit(
                    write_round_table, scheduled, self.checkpoint_dir,
                    round_no, "scheduled",
                ),
                pool.submit(_evolve_filter),
            ]

            # fetch join: NEVER build/broadcast the pages side (it is the
            # 100 TB table) — a plain left join makes pages the build side
            # (non-preserved). Instead: inner join with the small scheduled
            # set broadcast (pages is streamed once), then anti-union the
            # misses (dead URLs) computed against the small hit set. The
            # broadcast is size-gated on the OBSERVED scheduled count — an
            # over-budget round falls back to a shuffle join (AQE plans it).
            bcast_sched = scheduled_n <= cfg.scheduled_broadcast_max_rows
            pages = self.pages_snapshot()
            sched_side = F.broadcast(scheduled) if bcast_sched else scheduled
            hits = pages.join(
                sched_side, pages["page_url"] == scheduled["url"], "inner"
            ).drop("page_url")
            fetched_hits = hits.mapInPandas(_fetch_batches, FETCH_SCHEMA).persist()
            hit_urls = fetched_hits.select("url")
            misses = (
                scheduled.join(
                    F.broadcast(hit_urls) if bcast_sched else hit_urls,
                    "url",
                    "left_anti",
                )
                .withColumn("fetched", F.lit(False))
                .withColumn("warc_ts", F.lit(None).cast("timestamp_ntz"))
                .withColumn("text", F.lit(None).cast("string"))
                .withColumn("lang", F.lit(None).cast("string"))
                .withColumn("links", F.lit(None).cast("array<string>"))
                .withColumn(
                    # the offset the scheduler actually assigned — NOT
                    # re-derived as (rank-1)*delay, which is the per-host
                    # formula only and understates site-politeness offsets
                    # (by_site runs a registrable-domain-keyed running sum)
                    "planned_ms",
                    F.col("fetch_offset_ms").cast("long"),
                )
                .withColumn("batch_id", F.lit(-1).cast("long"))
            )
            out_cols = list(_FETCH_COLS)
            # fetched_rows is the UNOBSERVED union — an Observation binds
            # to exactly one action, so only the parquet write below
            # carries obs_fetch; the metrics/budget jobs reuse the rows
            fetched_rows = fetched_hits.select(*out_cols).unionByName(
                misses.select(*out_cols)
            )
            obs_fetch = Observation(f"fetch_{round_no}")
            fetched = fetched_rows.observe(
                obs_fetch, F.sum(F.col("fetched").cast("long")).alias("n_fetched")
            )

            # r6: the fetched WRITE rides the pool — the next-frontier
            # chain needs only the fetch-join's ROWS (the persisted
            # fetched_hits cache; misses carry no links), not the parquet
            # on disk, so the two jobs overlap. Block-level cache locks
            # make the shared mapInPandas extract compute exactly once
            # whichever job reaches a partition first.
            def _write_fetched() -> int:
                write_round_table(
                    fetched, self.checkpoint_dir, round_no, "fetched"
                )
                return int(obs_fetch.get["n_fetched"] or 0)

            # submitted before the optional sketch/budget jobs so it
            # never queues behind them on the 3-worker pool
            fut_fetch = pool.submit(_write_fetched)
            t_fetch = time.time()
            if cfg.host_sketch:
                barrier.append(pool.submit(_write_host_sketch))

            # AIMD budget evolution (config-gated): the round's fetch
            # outcomes feed back into per-host budgets; the evolved table
            # checkpoints like the seen filter so resume replays
            # identically. Computed from the same in-memory rows.
            if cfg.adapt_budgets:
                from ..operators.frontier import update_host_budgets

                barrier.append(pool.submit(
                    write_round_table,
                    update_host_budgets(hosts_cur, fetched_rows),
                    self.checkpoint_dir, round_no, "hosts",
                ))

            # seen delta == this round's scheduled set (attempted = seen);
            # it lives in the already-written scheduled table — no extra
            # write

            # per-batch lineage metrics (north rule), committed with the
            # round: grouped on the fetch-time batch_id stamped by
            # _fetch_batches (misses roll up under -1), NOT on
            # spark_partition_id() (file packing would merge unrelated
            # fetch batches into one read partition). Independent of the
            # next-frontier chain — rides the pool.
            metrics = (
                fetched_rows.groupBy(F.col("batch_id").alias("partition_id"))
                .agg(
                    F.count("*").alias("scheduled_n"),
                    F.sum(F.col("fetched").cast("int")).alias("fetched_n"),
                    F.max("planned_ms").alias("politeness_wall_ms"),
                )
                .withColumn("round", F.lit(round_no))
            )
            barrier.append(pool.submit(
                write_round_table, metrics, self.checkpoint_dir, round_no,
                "metrics",
            ))

            # next frontier: over-budget carryover (eligible but not
            # scheduled this round) + OPIC-expanded outlinks; gate-blocked
            # URLs are gone. The periodic sweeps below read COMMITTED
            # round tables (including this round's fetched dir), so a
            # sweep round first joins the fetched write.
            sweep_round = bool(
                (cfg.pagerank_every and round_no % cfg.pagerank_every == 0)
                or (cfg.blocklist_every and round_no % cfg.blocklist_every == 0)
                or (cfg.trap_every and round_no % cfg.trap_every == 0)
            )
            if sweep_round:
                fut_fetch.result()

            carryover = gated.select(
                "url", "depth", "score", "url_hash_hi", "url_hash_lo"
            ).join(
                scheduled.select("url_hash_hi", "url_hash_lo"),
                ["url_hash_hi", "url_hash_lo"],
                "left_anti",
            )
            # children come from the PERSISTED hits: rows with
            # fetched=true are exactly the hits slice (misses are all
            # false), so this reads the cache instead of the parquet
            children = expand_outlinks(
                fetched_hits.filter(F.col("fetched")), "links", "score", "depth"
            )
            # r6 (guide §2.3 "aggregate before you shuffle", applied to
            # CPU): popular pages are linked many times per round, so the
            # exploded edge list carries far more rows than distinct
            # targets. Pre-combine on the RAW url first (partial agg
            # absorbs duplicates map-side) so canonicalize + the 128-bit
            # hash run once per distinct raw url, not once per link; the
            # hash-keyed combine below still merges raw variants that
            # canonicalize to the same url. Score addition regroups
            # (sum-of-sums), which stays inside the documented round-to-
            # SCORE_DECIMALS float tolerance.
            children = children.groupBy("url").agg(
                F.min("depth").alias("depth"), F.sum("score").alias("score")
            )
            children = with_url_hash(
                valid_urls(with_canonical(children, "url"))
            ).select("url", "depth", "score", "url_hash_hi", "url_hash_lo")
            nxt = _combine_frontier(carryover.unionByName(children))
            # periodic global re-prioritization + host-level cuts.
            # r6 (guide §2.6): the two sweep MININGS (blocklist span
            # flags, trap partials) are independent scans of committed
            # tables — they ride the pool while the main thread runs the
            # PageRank re-score; the cheap cut APPLICATION (one
            # suffix-aware anti join each) chains afterwards in the same
            # order as before, so the resulting frontier is identical.
            bl_sweep = bool(
                cfg.blocklist_every and round_no % cfg.blocklist_every == 0
            )
            tr_sweep = bool(
                cfg.trap_every and round_no % cfg.trap_every == 0
            )
            fut_bl = pool.submit(self._blocklist_mine, round_no) if bl_sweep else None
            fut_tr = pool.submit(self._trap_mine, round_no) if tr_sweep else None
            if cfg.pagerank_every and round_no % cfg.pagerank_every == 0:
                nxt = self._pagerank_rescore(nxt, round_no)
            # host-level quality cut: sweep rounds MINE (incremental
            # partials) + commit + filter; every other round applies the
            # latest committed list as a STANDING gate — without it, a
            # blocked host's outlinked children re-enter via this round's
            # `children` and keep being fetched until the next sweep
            if bl_sweep:
                nxt = self._apply_cut(nxt, fut_bl.result())
            elif cfg.blocklist_every:
                nxt = self._apply_committed_host_cut(nxt, "blocklist", round_no)
            # crawler-trap cut: same sweep/standing-gate split for hosts
            # whose URL space explodes without new content
            if tr_sweep:
                nxt = self._apply_cut(nxt, fut_tr.result())
            elif cfg.trap_every:
                nxt = self._apply_committed_host_cut(nxt, "trap_hosts", round_no)
            obs_next = Observation(f"next_{round_no}")
            nxt = nxt.observe(obs_next, F.count(F.lit(1)).alias("n"))
            write_round_table(nxt, self.checkpoint_dir, round_no, "frontier_next")
            frontier_next_n = int(obs_next.get["n"])
            t_next = time.time()

            # barrier before the commit point: every overlapped job must
            # have SUCCEEDED for the round to become visible (result()
            # re-raises); only then does the manifest flip below run
            fetched_n = fut_fetch.result()
            for fut in barrier:
                fut.result()
            fetched_hits.unpersist()
            scheduled.unpersist()
        finally:
            pool.shutdown(wait=True)

        counts = {
            "round": round_no,
            "frontier_in": frontier_in,
            "deduped": int(obs_dedup.get["n"]),
            "scheduled": scheduled_n,
            "fetched": fetched_n,
            "frontier_next": frontier_next_n,
            "shuffle_partitions": width,
            "wall_s": round(time.time() - t0, 3),
            # per-phase walls (bench_extra diagnostics; wall-clock on the
            # critical path — overlapped jobs show up as barrier wait)
            "phase_walls": {
                "schedule": round(t_sched - t0, 3),
                "fetch": round(t_fetch - t_sched, 3),
                "next": round(t_next - t_fetch, 3),
                "barrier": round(time.time() - t_next, 3),
            },
        }
        frontier.unpersist()
        gated.unpersist()
        # THE commit point: manifest flip makes the round visible atomically;
        # prior rounds' counts are carried forward (lineage accumulates)
        state = self.log.read() or {}
        state.pop("committed_at", None)
        state["last_round"] = round_no
        state[f"r{round_no}"] = counts
        from ..functions.urls import URL_HASH_VERSION

        state["url_hash_version"] = URL_HASH_VERSION
        state = self._maybe_compact_seen(round_no, state)
        self.log.commit(state)
        return counts

    def _pagerank_rescore(self, frontier: DataFrame, upto: int) -> DataFrame:
        """PageRank sweep over the accumulated link graph (edges = each
        committed fetch's url -> canonicalized outlinks) applied to the
        next frontier's scores. Rounding to SCORE_DECIMALS keeps the
        combined ordering data-deterministic, same as OPIC scores."""
        from ..functions.urls import with_canonical
        from ..operators.frontier import rescore_frontier

        cfg = self.config
        fetched_all = read_rounds(
            self.spark, self.checkpoint_dir, "fetched", upto
        )
        if fetched_all is None:
            return frontier
        edges = (
            fetched_all.filter(F.col("fetched") & (F.size("links") > 0))
            .select(F.col("url").alias("src"), F.explode("links").alias("dst"))
        )
        edges = with_canonical(edges, "dst")
        out = rescore_frontier(frontier, edges, cfg.pagerank_iterations)
        return out.withColumn("score", F.round("score", SCORE_DECIMALS))

    def _apply_committed_host_cut(
        self, frontier: DataFrame, name: str, round_no: int
    ) -> DataFrame:
        """Standing between-sweeps gate: anti-join the NEWEST committed
        host-cut table (`blocklist` / `trap_hosts` — each sweep rewrites
        the full thresholded list from summed partials, so latest wins,
        no union) out of the next frontier. One small-table read + the
        suffix-aware single anti join of filter_blocked_hosts per
        round; no mining happens here."""
        from ..functions.urls import filter_blocked_hosts
        from ..sources.tables import round_table_paths

        paths = round_table_paths(
            self.checkpoint_dir, name, round_no - 1
        )
        if not paths:
            return frontier
        cut = self.spark.read.parquet(paths[-1])
        if not cut.take(1):
            return frontier
        return filter_blocked_hosts(frontier, cut.select("domain"))

    def _apply_cut(self, frontier: DataFrame, cut: DataFrame | None) -> DataFrame:
        """Apply a mined host-cut table (or pass through on None/empty)."""
        from ..functions.urls import filter_blocked_hosts

        if cut is None or not cut.take(1):
            return frontier
        return filter_blocked_hosts(frontier, cut.select("domain"))

    def _blocklist_mine(self, upto: int) -> DataFrame | None:
        """Mine junk-dominated hosts (Gopher rule flags -> per-host flag
        rates, support-gated), commit the candidates as this round's
        `blocklist` table, and return the committed cut table (None when
        there is nothing to mine). The filter application lives in
        :meth:`_apply_cut` so the mining can ride the round's thread
        pool (r6).

        INCREMENTAL: per-host (n_docs, n_flagged) counts are additive,
        so each sweep flags only its own span of rounds — exactly
        (upto - blocklist_every, upto], a pure function of the round
        number, so a replayed sweep rewrites the identical partial — and
        commits the O(hosts)-row partial as `host_quality`. The
        blocklist then thresholds the SUM of all committed partials:
        per-sweep work is O(span fetched text + hosts), never a rescan
        of the whole crawl history."""
        from ..functions.quality import gopher_quality_flags
        from ..functions.urls import blocked_hosts_from_counts, host_expr

        cfg = self.config
        span_from = max(upto - (cfg.blocklist_every or 1) + 1, 0)
        span = read_rounds(
            self.spark, self.checkpoint_dir, "fetched", upto,
            from_round=span_from,
        )
        if span is not None:
            junk = F.coalesce(
                gopher_quality_flags(F.col("text"))["flagged"], F.lit(False)
            )
            partial = (
                span.filter(F.col("fetched") & F.col("text").isNotNull())
                .select(host_expr(F.col("url")).alias("domain"), junk.alias("_f"))
                .where(F.col("domain").isNotNull() & (F.col("domain") != ""))
                .groupBy("domain")
                .agg(
                    F.count("*").alias("n_docs"),
                    F.sum(F.col("_f").cast("long")).alias("n_flagged"),
                )
            )
            write_round_table(
                partial, self.checkpoint_dir, upto, "host_quality"
            )
        totals = read_rounds(
            self.spark, self.checkpoint_dir, "host_quality", upto
        )
        if totals is None:
            return None
        mined = blocked_hosts_from_counts(
            totals, cfg.blocklist_min_docs, cfg.blocklist_max_flag_frac
        )
        path = write_round_table(mined, self.checkpoint_dir, upto, "blocklist")
        return self.spark.read.parquet(path)

    def _trap_mine(self, upto: int) -> DataFrame | None:
        """Mine crawler-trap hosts (operators/traps: novelty collapse or
        url-template dominance over fetched bodies), commit the report as
        this round's `trap_hosts` table, and return it (None when no
        partials exist). Application lives in :meth:`_apply_cut` (r6 —
        pooled mining, see _blocklist_mine).

        INCREMENTAL (the host_quality contract): each sweep writes its
        own span's additive (domain, template, n) counts as
        `host_templates` and its mergeable per-host content-HLL as
        `trap_content_hll` — both pure functions of the round number, so
        a replayed sweep rewrites identical partials. The verdict then
        sums/unions ALL committed partials: per-sweep work is O(span
        fetched text + hosts x templates), never a crawl-history rescan.
        """
        from ..operators.traps import (
            trap_hosts_from_partials,
            trap_partials,
        )

        cfg = self.config
        span_from = max(upto - (cfg.trap_every or 1) + 1, 0)
        span = read_rounds(
            self.spark, self.checkpoint_dir, "fetched", upto,
            from_round=span_from,
        )
        if span is not None:
            ok = span.filter(F.col("fetched") & F.col("text").isNotNull())
            # one pass: both partials come off a shared checkpointed
            # projection — the span's bodies are scanned + hashed once
            tpl_p, hll_p = trap_partials(ok)
            write_round_table(
                tpl_p, self.checkpoint_dir, upto, "host_templates"
            )
            write_round_table(
                hll_p, self.checkpoint_dir, upto, "trap_content_hll"
            )
        tpl = read_rounds(
            self.spark, self.checkpoint_dir, "host_templates", upto
        )
        hll = read_rounds(
            self.spark, self.checkpoint_dir, "trap_content_hll", upto
        )
        if tpl is None or hll is None:
            return None
        report = trap_hosts_from_partials(
            tpl, hll, cfg.trap_min_urls, cfg.trap_max_novelty
        )
        path = write_round_table(
            report.filter("trap"), self.checkpoint_dir, upto, "trap_hosts"
        )
        return self.spark.read.parquet(path)

    def recrawl_round(
        self,
        recrawl_no: int,
        now_s: float,
        max_urls: int | None = None,
        min_interval_s: float = 3600.0,
        max_interval_s: float = 30 * 24 * 3600.0,
    ) -> dict:
        """One freshness pass over the committed crawl (the revalidation
        loop of plans/recrawl.py run against this crawler's own state —
        the subsystem the BFS loop deliberately lacks: its seen-set
        blocks re-fetches by design).

        Due set: every url the crawl fetched, minus urls whose
        Cho-GM/revisit schedule (built from PRIOR passes' committed
        ``recrawl_checks``) says next_due > ``now_s`` — pass 0 revisits
        everything once, then unchanged urls drift to the slow lane.
        Each pass commits under ``round={recrawl_no}``:

        - ``recrawl_checks`` — (url, ts, changed) delta feeding the next
          pass's estimator (append-only history, the crawl-round
          contract: replay rewrites the identical table),
        - ``recrawl_refreshed`` — modified/new urls' re-extracted text
          (the store delta; not_modified bodies are never re-stored),
        - ``recrawl_report`` — per-status counts + bytes_saved.

        The comparison prior is the LATEST text per url across the crawl
        AND all committed ``recrawl_refreshed`` deltas — a url refreshed
        in pass k compares against its refreshed body from pass k+1 on,
        so an unchanged-since-refresh page is ``not_modified`` (never
        re-stored) instead of mismatching its stale crawl text forever.

        Re-fetched html flows through the SAME byte-identical extraction
        as the crawl (applied to the BOUNDED hits set, never the full
        snapshot), so an unchanged page hashes equal to its stored text.
        ``now_s`` is explicit — determinism and replay over wall clocks.
        """
        from ..functions.text import extract_text_udf
        from ..operators.changes import estimate_change_rate, revisit_schedule
        from ..plans.recrawl import checks_delta, recrawl_batch

        state0 = self.log.read() or {}
        fetched_all = read_rounds(
            self.spark, self.checkpoint_dir, "fetched",
            state0.get("last_round", 0),
        )
        if fetched_all is None:
            raise ValueError(
                "recrawl_round needs committed crawl rounds (run() first)"
            )
        prior = latest_per_key(
            fetched_all.filter(F.col("fetched") & F.col("text").isNotNull()),
            "url", "warc_ts", tiebreak="url",
        ).select("url", "text")
        # COMMITTED passes only: bound every recrawl read by the
        # manifest's last_recrawl, not by path existence — a pass that
        # crashed after write_round_table but before log.commit left
        # round dirs on disk that must stay invisible (tables.py
        # contract) until its replay rewrites and commits them
        last_rc = state0.get("last_recrawl", -1)
        if recrawl_no != last_rc + 1:
            # passes are STRICTLY sequential: skipping ahead would
            # silently bless any crashed pass's orphan round dirs in
            # between, and re-running a pass <= last_recrawl would
            # rewrite committed history with a different now_s AND
            # regress last_recrawl, demoting later committed passes to
            # invisible orphans. The one legitimate replay — a pass
            # that crashed before its manifest commit — is exactly
            # last_recrawl + 1.
            raise ValueError(
                f"recrawl pass {recrawl_no} out of sequence / skips "
                f"committed history (last committed pass: {last_rc}; "
                f"next allowed: {last_rc + 1})"
            )
        upto = last_rc
        refreshed = read_rounds(
            self.spark, self.checkpoint_dir, "recrawl_refreshed", upto,
            merge_schema=True,
        ) if upto >= 0 else None
        if refreshed is not None:
            # overlay: text refreshed in pass k supersedes the crawl text
            # (and earlier passes') for every later comparison — without
            # this a once-modified url re-classifies modified (and
            # re-stores its body) on EVERY subsequent pass. Pre-r5
            # checkpoints wrote (url, text) without recrawl_pass: treat
            # those deltas as pass 0 (above the crawl, below any pass
            # that recorded its number).
            if "recrawl_pass" in refreshed.columns:
                refreshed = refreshed.withColumn(
                    "recrawl_pass",
                    F.coalesce(
                        F.col("recrawl_pass").cast("int"), F.lit(0)
                    ),
                )
            else:
                refreshed = refreshed.withColumn(
                    "recrawl_pass", F.lit(0).cast("int")
                )
            # window ONLY the bounded deltas (modified rows per pass),
            # never the full store: the newest delta per url wins, then
            # overlays the crawl prior via anti-join + union — the
            # 10^10-row prior is streamed once with the small delta set
            # as the build side, not re-sorted under a second window
            delta = latest_per_key(
                refreshed.select("url", "text", "recrawl_pass"),
                "url", "recrawl_pass", tiebreak="url",
            ).select("url", "text").localCheckpoint(eager=False)
            prior = prior.join(
                delta.select("url"), "url", "left_anti"
            ).unionByName(delta)
        due = prior.select("url")
        checks = read_rounds(
            self.spark, self.checkpoint_dir, "recrawl_checks", upto,
        ) if upto >= 0 else None
        if checks is not None:
            sched = revisit_schedule(
                estimate_change_rate(checks),
                min_interval_s=min_interval_s,
                max_interval_s=max_interval_s,
            )
            not_due = sched.filter(
                F.col("next_due_ts").cast("double") > float(now_s)
            ).select("url")
            due = due.join(not_due, "url", "left_anti")
        if max_urls is not None:
            due = due.orderBy("url").limit(int(max_urls))
        out = recrawl_batch(
            due,
            self.pages_snapshot(),
            prior,
            page_url_col="page_url",
            page_content_col="html",
            transform=lambda h: h.select(
                "url", extract_text_udf(F.col("_content")).alias("_content")
            ),
            keep_content=True,
        ).localCheckpoint(eager=False)
        write_round_table(
            checks_delta(out, now_s), self.checkpoint_dir, recrawl_no,
            "recrawl_checks",
        )
        write_round_table(
            out.filter(F.col("store_row")).select(
                "url",
                F.col("content").alias("text"),
                F.lit(int(recrawl_no)).cast("int").alias("recrawl_pass"),
            ),
            self.checkpoint_dir, recrawl_no, "recrawl_refreshed",
        )
        report = out.groupBy("status").agg(
            F.count("*").alias("n_urls"),
            F.sum("bytes_saved").alias("bytes_saved"),
        )
        path = write_round_table(
            report, self.checkpoint_dir, recrawl_no, "recrawl_report"
        )
        counts = {
            r["status"]: (r["n_urls"], r["bytes_saved"])
            for r in self.spark.read.parquet(path).collect()
        }
        state = self.log.read() or {}
        state.pop("committed_at", None)
        state["last_recrawl"] = recrawl_no
        state[f"rc{recrawl_no}"] = {
            s: n for s, (n, _) in counts.items()
        }
        self.log.commit(state)
        return counts

    def _check_fail_under(self) -> None:
        """Whole-crawl --fail-under semantics (reference run.py:510-515):
        the committed manifest counts cover ALL rounds, so a resumed crawl
        near its end is judged on the full crawl, not just this
        invocation's rounds. Applied on every exit path of run()."""
        import re

        if self.config.fail_under is None:
            return
        state = self.log.read() or {}
        total = sum(
            v.get("fetched", 0)
            for k, v in state.items()
            if re.fullmatch(r"r\d+", k) and isinstance(v, dict)
        )
        if total < self.config.fail_under:
            raise EmptyCrawl(
                f"crawl fetched {total} < fail_under={self.config.fail_under}"
            )

    # -- the loop ----------------------------------------------------------
    def run(self, seeds: DataFrame, rounds: int) -> list[dict]:
        """Run/resume up to ``rounds`` rounds. Resume reads the manifest:
        already-committed rounds are skipped entirely (their outputs are
        the checkpoint)."""
        state = self.log.read()
        # hash-version guard (ADVICE r5): a checkpoint whose seen-set keys
        # were written under a DIFFERENT (hi, lo) formula cannot be
        # resumed — every bloom/anti-join probe would miss the stored
        # pairs and the crawl would silently re-fetch everything. A
        # missing stamp is treated as current (the stamp postdates the
        # formula change; every unstamped checkpoint in the field was
        # written by the current formula).
        if state is not None:
            from ..functions.urls import URL_HASH_VERSION

            stamped = state.get("url_hash_version", URL_HASH_VERSION)
            if stamped != URL_HASH_VERSION:
                raise ValueError(
                    f"checkpoint {self.checkpoint_dir!r} was written with "
                    f"url-hash formula v{stamped}; this engine computes "
                    f"v{URL_HASH_VERSION} — resuming would miss every "
                    "stored seen key. Recompact or restart the crawl."
                )
        start = (state["last_round"] + 1) if state else 0
        results: list[dict] = []
        # run_round adapts shuffle width per round; restore the session's
        # setting afterwards so co-tenants of the session are unaffected
        orig_width = self.spark.conf.get("spark.sql.shuffle.partitions", None)
        # r6 NOTE (measured, then reverted): materializing the persisted
        # pages snapshot in a background thread overlapping round 0's
        # scheduling jobs was tried per guide §2.6 and made the round 2x
        # SLOWER (13.2 s vs ~5 s schedule phase at the bench corpus) —
        # both sides are pandas-UDF-heavy, and two concurrent Arrow jobs
        # double the live python-worker count on the same cores (spawn
        # storm + memory pressure; the same anti-scaling documented in
        # schedule_bench's persist note). The derivation stays lazy
        # inside round 0's fetch join, which holds the cores alone.
        try:
            if start == 0:
                frontier = frontier_delta(seeds.select(
                    "url",
                    F.col("depth").cast("int").alias("depth"),
                    F.col("priority").cast("double").alias("score"),
                ))
                seen, bloom = None, None
                fr_hint = None
            else:
                # frontier exhaustion is read from the committed counts — no
                # isEmpty() action (it would re-run the whole frontier chain)
                if state.get(f"r{start - 1}", {}).get("frontier_next") == 0:
                    self._check_fail_under()
                    return results
                seen, bloom, frontier = self._load_state(start - 1)
                if frontier is None:
                    self._check_fail_under()
                    return results
                # committed count of the frontier parquet we just loaded
                fr_hint = state.get(f"r{start - 1}", {}).get("frontier_next")
            for r in range(start, rounds):
                counts = self.run_round(
                    r, frontier, seen, bloom, frontier_in_hint=fr_hint
                )
                results.append(counts)
                if counts["frontier_next"] == 0:
                    break
                seen, bloom, frontier = self._load_state(r)
                fr_hint = counts["frontier_next"]
        finally:
            if orig_width is not None:
                self.spark.conf.set("spark.sql.shuffle.partitions", orig_width)
        self._check_fail_under()
        return results
