"""The north-rule measurement pipeline: one scheduling mega-round as a
SINGLE Spark action.

frontier(canonicalize -> 128-bit hash -> OPIC combine) -> bloom probe +
exact anti-join dedup -> robots gate -> budget join -> salted per-host
top-k -> fetch join against the pages snapshot -> mapInPandas extract
(text/lang/outlinks, politeness offsets) -> noop sink.

This is the shape the 10^10-URL cluster job has per micro-batch; measuring
it as one action isolates engine scaling from the per-round commit floor
(which bench.py reports separately as `crawl`). Runnable as a module for
fresh-JVM scaling probes:

    python -m metadata_crawler_spark.plans.schedule_bench <cores> <fx_dir>
"""

from __future__ import annotations

import json
import sys
import time

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..functions.urls import canonicalize_udf
from ..operators.frontier import schedule_round
from ..operators.seen import bloom_build, dedup_against_seen
from .round_loop import FETCH_SCHEMA, _fetch_batches, frontier_delta


def run_schedule_pipeline(
    spark: SparkSession,
    fx_dir: str,
    n_shards: int = 32,
    salt_parts: int = 8,
) -> dict:
    """One full scheduling round over every URL in the fixture corpus, with
    half the corpus pre-seen (bloom + exact tiers both exercised)."""
    pages = spark.read.parquet(f"{fx_dir}/pages.parquet")
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")
    hosts = spark.read.parquet(f"{fx_dir}/hosts.parquet")

    n_urls = pages.count()  # warm: parquet footers + page cache

    t0 = time.time()
    # persist: downstream branches (seen filter, bloom build, anti-join
    # broadcast, top-k) would otherwise EACH recompute the pandas-UDF chain
    # inside concurrent broadcast-build jobs — a python-worker spawn storm
    # that anti-scales with core count (measured: 4 concurrent rebuilds,
    # 22-37s each at local[32] vs seconds when cached)
    frontier = frontier_delta(
        pages.select("url", F.lit(0).alias("depth"), F.lit(1.0).alias("score"))
    ).persist()

    # seen tier: every even hash was crawled before (deterministic half)
    seen = frontier.filter(F.pmod(F.col("url_hash_hi"), F.lit(2)) == 0).select(
        "url_hash_hi", "url_hash_lo"
    )
    bloom = bloom_build(
        seen, n_shards, fpr=0.01, expected_per_shard=max(64, n_urls // n_shards)
    )
    new_urls = dedup_against_seen(frontier, seen, bloom, n_shards)
    # bench fixture tables are known-small: skip the size-probe jobs so the
    # measured wall is engine throughput, not two extra limit().count()s
    sched = schedule_round(
        new_urls, hosts, robots, salt_parts=salt_parts,
        robots_broadcast=True, hosts_broadcast=True,
    ).select(
        "url", "host", "depth", "score", "rank", "crawl_delay_ms",
        "fetch_offset_ms", "url_hash_hi", "url_hash_lo",
    )

    # url-only UDF, NOT the split-union: the snapshot side carries html
    # bytes, so a second scan costs more than the Python it saves
    snapshot = pages.select(
        canonicalize_udf("url").alias("page_url"), "warc_ts", "html"
    )
    # broadcast the small scheduled side; stream the pages scan (the
    # pages table is the 100 TB side — never the build side)
    fetchable = snapshot.join(
        F.broadcast(sched), snapshot["page_url"] == sched["url"], "inner"
    ).drop("page_url")
    fetched = fetchable.mapInPandas(_fetch_batches, FETCH_SCHEMA)

    from pyspark.sql import Observation

    obs = Observation("sched")
    fetched = fetched.observe(
        obs,
        F.count(F.lit(1)).alias("scheduled"),
        F.sum(F.col("fetched").cast("long")).alias("fetched"),
    )
    fetched.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    frontier.unpersist()
    m = obs.get
    return {
        "frontier_urls": n_urls,
        "scheduled": m["scheduled"],
        "fetched": m["fetched"],
        "wall_s": round(wall, 3),
        "urls_per_sec": round(n_urls / wall, 1),
    }


def run_url_schedule_pipeline(
    spark: SparkSession,
    fx_dir: str,
    n_shards: int = 32,
    salt_parts: int = 8,
) -> dict:
    """The scaling-measurement variant: frontier URLs scheduled+deduped/sec
    over a URLs-only corpus (no fetch/extract — exactly the north-rule
    numerator), built to minimize fixed job count so the measurement is
    engine throughput, not driver latency:

    canonicalize -> hash -> OPIC combine (1 shuffle) -> bloom probe
    (broadcast bitmaps, built once from the persisted frontier) -> exact
    anti-join for the maybe-slice (shuffle join: parallel work, exactly
    what a 10^10-row seen table costs) -> robots/budget broadcast joins ->
    two-stage salted per-host top-k -> observed noop sink.
    """
    # a single parquet file under maxPartitionBytes (128MB) scans as ONE
    # task no matter the core count — split small so the scan parallelizes
    # (on a real cluster the frontier is many files; this is bench-only)
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    urls = spark.read.parquet(f"{fx_dir}/urls.parquet")
    robots = spark.read.parquet(f"{fx_dir}/robots.parquet")
    hosts = spark.read.parquet(f"{fx_dir}/hosts.parquet")
    n_urls = urls.count()

    t0 = time.time()
    frontier = frontier_delta(
        urls.select("url", F.lit(0).alias("depth"), F.lit(1.0).alias("score"))
    ).persist()
    seen = frontier.filter(F.pmod(F.col("url_hash_hi"), F.lit(2)) == 0).select(
        "url_hash_hi", "url_hash_lo"
    )
    bloom = bloom_build(
        seen, n_shards, fpr=0.01,
        expected_per_shard=max(64, n_urls // (2 * n_shards)),
    )
    # bloom probed via broadcast + vectorized Arrow UDF (north-star shape;
    # the bitmap table is tiny). The cogrouped probe + shuffle-hash anti
    # join variants exist for the case where seen outgrows broadcast —
    # measured slower locally (arrow cogroup transfer), same results.
    new_urls = dedup_against_seen(frontier, seen, bloom, n_shards)
    sched = schedule_round(
        new_urls, hosts, robots, salt_parts=salt_parts,
        robots_broadcast=True, hosts_broadcast=True,
    )

    from pyspark.sql import Observation

    obs = Observation("sched")
    out = sched.observe(obs, F.count(F.lit(1)).alias("scheduled"))
    out.write.format("noop").mode("overwrite").save()
    wall = time.time() - t0
    frontier.unpersist()
    return {
        "frontier_urls": n_urls,
        "scheduled": obs.get["scheduled"],
        "wall_s": round(wall, 3),
        "urls_per_sec": round(n_urls / wall, 1),
    }


def _cpu_calibration(threads: int = 4, reps: int = 8) -> float:
    """Fixed numpy workload wall time: a cheap probe of the host's CURRENT
    CPU delivery (this VM's delivery swings ~3x in bursts). Used only to
    decide whether a pair's two halves ran in the same regime — never to
    adjust a measurement."""
    from concurrent.futures import ThreadPoolExecutor

    import numpy as np

    def burn(_):
        # sized so the probe runs ~0.5-1s total: long enough to sample the
        # host's delivery regime, short next to a measurement trial
        a = np.random.default_rng(0).random((1200, 1200))
        s = 0.0
        for _ in range(reps):
            s += float((a @ a).sum())
        return s

    best = float("inf")
    for _ in range(3):  # min-of-3: "capacity when actually scheduled" —
        t0 = time.time()  # single probes swing ~1.7x even in quiet windows
        with ThreadPoolExecutor(threads) as ex:
            list(ex.map(burn, range(threads * 2)))
        best = min(best, time.time() - t0)
    return best


def paired_main() -> None:
    """Paired scaling measurement: ALTERNATE N-core and 4N-core trials so
    each pair shares the host's noise window (this VM's CPU delivery
    swings ~3x in bursts of tens of seconds — sequential per-level
    sampling can land the two levels in different regimes and report
    nonsense in either direction). Three acceptance criteria, ALL external
    to the efficiency ratio (variance control, not selection on the
    result; thresholds tightened per VERDICT r2 item 1):

    - pair-consistent: the fixed CPU-calibration probe (min-of-3) before
      each half agrees within 1.5x — the halves saw the same regime;
    - full-delivery: both halves' calibrations are within 1.5x of the
      BEST calibration this run observed — the host was actually able to
      deliver the cores. A 1->4-core scaling number taken while the host
      delivers a fraction of its CPUs is invalid by construction: the
      "4x resources" denominator is false.
    - wall-sane: each half's wall is within 1.25x of the BEST wall seen
      for its level across all trials. The job is deterministic fixed
      work — the host can only ever make it SLOWER — so a half far off
      the best observed wall for the same level rode a burst the
      calibration probes missed (r2's trial-1 failure mode: clean cals,
      degraded measurement). Per-level absolute walls, never the ratio.

    The HEADLINE efficiency is the MEDIAN over accepted pairs (>=3
    sought). If the host never settles, the headline falls back to the
    median over pair-consistent pairs and says so (basis field).

    usage: ... schedule_bench paired <fx_dir> [n_pairs] [N [mult]]
    """
    from ..session import get_spark

    fx_dir = sys.argv[2]
    # default 3 pairs (median headline); explicit smaller values are for
    # smoke runs only — the driver's BENCH uses the default
    n_pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    # default N=1, 4N=4: this VM's memory bandwidth saturates above ~4
    # cores (pure JVM hash-agg measures 1->4: 3.7x, 4->16: 2.3x, and a
    # fixed-work numpy matmul ladder confirms the ceiling is the host,
    # not the engine), so the honest 4x-parallelism window is 1->4.
    n = int(sys.argv[4]) if len(sys.argv) > 4 else 1
    mult = int(sys.argv[5]) if len(sys.argv) > 5 else 4
    levels = (n, n * mult)
    all_pairs: list[dict] = []
    attempts = 0
    # +2 bounds the worst-case bench wall at the 12M corpus (~9.3 min per
    # attempt); the wall-sanity gate makes accepted-pair quality come from
    # rejection, not from more attempts
    max_attempts = n_pairs + 2
    # WALL BUDGET (r5): on slow-delivery host days one attempt can take
    # ~15-17 min, and 5 attempts overran the caller's subprocess timeout —
    # losing the ENTIRE scaling section (efficiency: null) instead of
    # degrading to fewer pairs. Before each further attempt, project its
    # cost from the attempts already measured and stop if it would not
    # fit; the accept/fallback logic below already handles < n_pairs.
    import os as _os

    budget_s = float(_os.environ.get("MCS_SCALING_BUDGET_S", "3300"))
    t_start = time.time()
    attempt_costs: list[float] = []
    budget_exhausted = False

    def consistent(p: dict) -> bool:
        a, b = p["cal_s"]
        return max(a, b) <= 1.5 * min(a, b)

    def wall_sane(p: dict) -> bool:
        # per-level best wall across every trial = capacity proxy (a
        # deterministic job is only ever slowed by the host)
        for lv in levels:
            best_w = min(q[f"wall_{lv}"] for q in all_pairs)
            if p[f"wall_{lv}"] > 1.25 * best_w:
                return False
        return True

    def full_delivery(p: dict, best_cal: float) -> bool:
        return (
            consistent(p)
            and max(p["cal_s"]) <= 1.5 * best_cal
            and wall_sane(p)
        )

    while attempts < max_attempts:
        if attempt_costs and (
            time.time() - t_start + max(attempt_costs) > budget_s
        ):
            budget_exhausted = True
            break
        t_attempt = time.time()
        trial = attempts
        attempts += 1
        walls: dict = {}
        cals: dict = {}
        rep_walls: dict = {}
        # each level measured TWICE per pair (min wall), interleaved
        # [N, 4N, N, 4N] so both levels sample the same window: min-of-N
        # steady-state practice applied symmetrically inside the pair —
        # single-shot halves are burst-sensitive even in quiet windows
        for rep in range(2):
            for cores in levels:
                spark = get_spark(
                    f"paired{cores}-{trial}-{rep}",
                    cores=cores,
                    shuffle_partitions=cores,
                )
                spark.range(0, 1000).select(
                    canonicalize_udf(
                        F.concat(F.lit("https://w.com/"), "id")
                    ).alias("u")
                ).write.format("noop").mode("overwrite").save()
                cal = _cpu_calibration()
                res = run_url_schedule_pipeline(spark, fx_dir)
                spark.stop()
                if cores not in walls or res["wall_s"] < walls[cores]["wall_s"]:
                    walls[cores] = res
                cals[cores] = min(cals.get(cores, float("inf")), cal)
                rep_walls.setdefault(cores, []).append(res["wall_s"])
        eff = round(
            (walls[levels[1]]["urls_per_sec"] / walls[levels[0]]["urls_per_sec"])
            / mult,
            3,
        )
        pair = {
            "trial": trial,
            f"wall_{levels[0]}": walls[levels[0]]["wall_s"],
            f"wall_{levels[1]}": walls[levels[1]]["wall_s"],
            f"thr_{levels[0]}": walls[levels[0]]["urls_per_sec"],
            f"thr_{levels[1]}": walls[levels[1]]["urls_per_sec"],
            "cal_s": [round(cals[levels[0]], 2), round(cals[levels[1]], 2)],
            "rep_walls": {str(lv): rep_walls[lv] for lv in levels},
            "efficiency": eff,
        }
        all_pairs.append(pair)
        attempt_costs.append(time.time() - t_attempt)
        best_cal = min(c for q in all_pairs for c in q["cal_s"])
        if sum(full_delivery(q, best_cal) for q in all_pairs) >= n_pairs:
            break

    best_cal = min(c for q in all_pairs for c in q["cal_s"])
    full = [q for q in all_pairs if full_delivery(q, best_cal)]
    if full:
        chosen, basis = full, "full_delivery"
    else:  # host never delivered its cores: flagged fallback
        cons = [q for q in all_pairs if consistent(q)]
        chosen, basis = (cons or all_pairs), "pair_consistent_fallback"
    import statistics

    # headline = MEDIAN pair; the pair realizing it carries the throughputs
    by_eff = sorted(chosen, key=lambda p: p["efficiency"])
    median_pair = by_eff[(len(by_eff) - 1) // 2]
    best = max(all_pairs, key=lambda p: p["efficiency"])
    print(
        json.dumps(
            {
                "levels": list(levels),
                "n_urls": walls[levels[0]]["frontier_urls"],
                "basis": basis,
                "best_cal_s": round(best_cal, 2),
                "median_pair": median_pair,
                "best_pair": best,
                "pairs": chosen,
                "rejected_pairs": [q for q in all_pairs if q not in chosen],
                "efficiency": round(
                    statistics.median(p["efficiency"] for p in chosen), 3
                ),
                "efficiency_best": best["efficiency"],
                "localN_urls_per_sec": median_pair[f"thr_{levels[0]}"],
                "local4N_urls_per_sec": median_pair[f"thr_{levels[1]}"],
                "budget_exhausted": budget_exhausted,
            }
        )
    )


def skew_win(
    spark: SparkSession,
    fx_dir: str,
    n_pairs: int = 2,
    max_attempts: int = 5,
) -> dict:
    """Hot-host skew demonstration (the reference serializes one hot
    directory on one worker, SURVEY §4): per-host top-k with and without
    the two-stage salt on the Zipf corpus (rank-1 host owns ~15%%).

    Protocol (VERDICT r2 item 1 — r2's min-of-2-sequential reported an
    INVERTED 0.81x during a host burst; the controlled re-run measured
    2.9x): salted/unsalted halves run INTERLEAVED [1,8,1,8] with the same
    min-of-3 CPU-calibration probes as paired_main, a pair is accepted
    only when its halves' calibrations agree within 1.5x AND each half's
    wall is within 1.25x of the best wall seen for that variant (a
    deterministic job can only be slowed by the host — a half far off the
    best observed wall rode a burst). Headline speedup = the median
    accepted pair."""
    from ..operators.frontier import per_host_topk, with_host

    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024 * 1024))
    urls = spark.read.parquet(f"{fx_dir}/urls.parquet")
    hosts = spark.read.parquet(f"{fx_dir}/hosts.parquet")
    f = with_host(
        urls.select(F.col("url"), F.lit(0).alias("depth"), F.lit(1.0).alias("score"))
    )
    f = (
        f.join(F.broadcast(hosts), "host", "left")
        .withColumn("budget", F.coalesce("budget", F.lit(8)))
        .persist()
    )
    f.count()

    def run_one(salt: int) -> float:
        t0 = time.time()
        per_host_topk(f, "budget", salt_parts=salt).write.format("noop").mode(
            "overwrite"
        ).save()
        return time.time() - t0

    pairs: list[dict] = []
    for trial in range(max_attempts):
        walls: dict[int, float] = {}
        cals: dict[int, float] = {}
        for _rep in range(2):
            for salt in (1, 8):
                cal = _cpu_calibration()
                w = run_one(salt)
                walls[salt] = min(walls.get(salt, float("inf")), w)
                cals[salt] = min(cals.get(salt, float("inf")), cal)
        pairs.append(
            {
                "trial": trial,
                "salt_1_wall_s": round(walls[1], 2),
                "salt_8_wall_s": round(walls[8], 2),
                "cal_s": [round(cals[1], 2), round(cals[8], 2)],
                "speedup": round(walls[1] / walls[8], 2),
            }
        )
        best = {
            s: min(p[f"salt_{s}_wall_s"] for p in pairs) for s in (1, 8)
        }

        def ok(p: dict) -> bool:
            a, b = p["cal_s"]
            return (
                max(a, b) <= 1.5 * min(a, b)
                and p["salt_1_wall_s"] <= 1.25 * best[1]
                and p["salt_8_wall_s"] <= 1.25 * best[8]
            )

        accepted = [p for p in pairs if ok(p)]
        if len(accepted) >= n_pairs:
            break
    f.unpersist()
    # ADVICE r3: if no pair cleared the acceptance gates, the fallback to
    # ALL pairs must be labeled as such — claiming the gated basis for an
    # ungated median would misreport the headline's provenance.
    if accepted:
        basis = "median of calibration-gated interleaved pairs"
    else:
        accepted = pairs
        basis = "ungated_fallback (no pair passed acceptance gates)"
    by_speedup = sorted(accepted, key=lambda p: p["speedup"])
    med = by_speedup[(len(by_speedup) - 1) // 2]
    return {
        "salt_1_wall_s": med["salt_1_wall_s"],
        "salt_8_wall_s": med["salt_8_wall_s"],
        "speedup": med["speedup"],
        "basis": basis,
        "pairs": pairs,
        "accepted_trials": [p["trial"] for p in accepted],
    }


def main() -> None:
    if sys.argv[1] == "paired":
        paired_main()
        return
    cores = int(sys.argv[1])
    fx_dir = sys.argv[2]
    repeat = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    mode = sys.argv[4] if len(sys.argv) > 4 else "urls"
    from ..session import get_spark

    spark = get_spark(f"schedprobe{cores}", cores=cores, shuffle_partitions=cores)
    # warm the python workers + UDF pickle path once so the measurement is
    # steady-state engine throughput, not process spawn
    spark.range(0, 1000).select(
        canonicalize_udf(F.concat(F.lit("https://w.com/"), "id")).alias("u")
    ).write.format("noop").mode("overwrite").save()
    # the sandbox host's CPU throughput swings ~3x between identical trials
    # (measured: 8-25s for a fixed matmul workload), so scaling evidence is
    # min-of-N on both levels — standard steady-state practice on noisy hosts
    fn = run_url_schedule_pipeline if mode == "urls" else run_schedule_pipeline
    # stability-seeking with CPU calibration: the host steals CPU in bursts
    # of tens of seconds (measured 3x swings on a fixed matmul), and two
    # runs can "agree" merely because both landed in the same slow burst.
    # Before each trial we measure a fixed numpy burn; a trial only counts
    # as QUIET if its calibration is within 35% of the best calibration
    # seen. Sample until >=2 quiet trials agree within 25%, or budget out.
    def _cpu_calibration() -> float:
        import numpy as np
        from concurrent.futures import ThreadPoolExecutor

        def burn(_):
            a = np.random.rand(300, 300)
            s = 0.0
            for _ in range(8):
                s += float((a @ a).sum())
            return s

        t0 = time.time()
        with ThreadPoolExecutor(min(cores, 8)) as ex:
            list(ex.map(burn, range(min(cores, 8) * 2)))
        return time.time() - t0

    runs: list[dict] = []
    cals: list[float] = []
    # shorter runs are more burst-sensitive -> give high-core levels a
    # bigger sample budget (they are also much cheaper per run)
    max_runs = max(repeat, 8 if cores >= 16 else 4)
    while len(runs) < max_runs:
        cals.append(_cpu_calibration())
        runs.append(fn(spark, fx_dir))
        quiet = [r for r, c in zip(runs, cals) if c <= min(cals) * 2.0]
        walls = sorted(r["wall_s"] for r in quiet)
        if len(runs) >= max(3, repeat) and len(walls) >= 2 and walls[1] <= walls[0] * 1.2:
            break
    quiet = [r for r, c in zip(runs, cals) if c <= min(cals) * 2.0] or runs
    best = min(quiet, key=lambda r: r["wall_s"])
    best = dict(best)
    best["cores"] = cores
    best["walls_s"] = [r["wall_s"] for r in runs]
    best["calibrations_s"] = [round(c, 2) for c in cals]
    print(json.dumps(best))
    spark.stop()


if __name__ == "__main__":
    main()
