#!/usr/bin/env python3
"""The crawl benchmark: one seeded workload, end-to-end or traced.

    python3 perfbench/run.py --workload bfs_rounds --seed 1 --seconds 30 --trace 0

Run from the repository root. Every run builds one local Spark session
(``local[nproc]``, one driver process), generates its inputs from
``--seed``, warms up untimed, sets up, then times four phases through
the public API, checking every output:

1. crawl   — ``Crawler.run`` one round at a time (each call resumes the
             committed manifest and runs the next round);
2. resume  — a fresh ``Crawler`` on the committed checkpoint runs one
             more round;
3. recrawl — a fresh ``Crawler`` over the mutated ``pages_v2`` runs
             ``recrawl_round`` passes spaced 31 days apart;
4. corpus  — ``ingest_pages(boilerplate=False)`` then ``clean_corpus``
             over page html with injected duplicates.

The workloads differ in how the crawl is seeded (see WORKLOADS). The
last stdout line is the result JSON; progress goes to stderr. With
``--trace 1`` the layer wrappers of ``spans.py`` are installed and the
per-layer metrics are reported instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))

#: Work plan per workload, fixed so that runs compare; sized so one run
#: stays under a minute on 4 cores (README "Sizing"). ``seeds``:
#: "fixture" = the fixture seeds table (~1% of urls plus dead seeds),
#: "all" = every page url seeded into round 0.
WORKLOADS = {
    "bfs_rounds": {
        "n_pages": 16_000, "seeds": "fixture", "rounds": 1,
        "recrawl_passes": 2, "corpus_docs": 500,
    },
    "bulk_frontier": {
        "n_pages": 12_000, "seeds": "all", "rounds": 1,
        "recrawl_passes": 2, "corpus_docs": 500,
    },
}
#: the untimed warm-up: one crawl round on a small input set (the cold
#: JVM and Python-worker start lands here)
WARMUP = {"n_pages": 300, "rounds": 1, "corpus_docs": 100}
#: crawl set-up (Crawler construction + pages snapshot) repeats; median
SETUP_REPEATS = 3
#: recrawl passes are spaced past the default 30-day max revisit
#: interval, so every pass has the whole crawl due (see README traps)
RECRAWL_T0 = 1_800_000_000.0
RECRAWL_SPACING_S = 31 * 24 * 3600.0

END_TO_END = {
    "setup_s": "s",
    "frontier_urls_per_s": "1/s",
    "fetched_pages_per_s": "1/s",
    "round_p50_s": "s",
    "resume_s": "s",
    "recrawl_urls_per_s": "1/s",
    "corpus_docs_per_s": "1/s",
    "peak_rss_mb": "MB",
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T0:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


# -- session -----------------------------------------------------------------
def build_session(work: str):
    """Local session with the package's runtime confs, quiet and pinned:
    no console progress, ERROR logging, every scratch path in ``work``."""
    from pyspark.sql import SparkSession

    from metadata_crawler_spark.session import RUNTIME_CONFS, ship_package

    n = nproc()
    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.driver.extraJavaOptions",
                f"-Xms1g -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.local.dir", os.environ["SPARK_LOCAL_DIRS"])
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.default.parallelism", str(n))
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.ui.retainedExecutions", "100000")
    )
    for k, v in RUNTIME_CONFS.items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    ship_package(spark)
    return spark


# -- phases --------------------------------------------------------------------
class Phases:
    """Runs the four phases over one input set and checks every op.
    Ops are appended to ``self.ops`` as dicts with their wall and result;
    a failed check marks the op failed."""

    def __init__(self, spark, inp, plan: dict, work: str, tracer, label: str):
        from metadata_crawler_spark.plans.round_loop import CrawlConfig

        self.spark = spark
        self.inp = inp
        self.plan = plan
        self.tracer = tracer
        self.label = label
        # one seen-filter shard per core, as the legacy bench.py sets it
        self.config = CrawlConfig(n_shards=nproc())
        self.ckpt = os.path.join(work, f"ckpt-{label}")
        self.ops: list[dict] = []
        self.failures: list[str] = []
        self.seen_keys: set = set()
        self.fetched_urls: set[str] = set()
        self.round_counts: list[dict] = []
        self.fetched_tables: list = []
        self.crawler = None
        self.recrawler = None

    def _crawler(self, pages_key: str):
        from metadata_crawler_spark.plans.round_loop import Crawler

        p = self.inp.paths
        return Crawler(
            spark=self.spark,
            pages_path=p[pages_key],
            robots=self.spark.read.parquet(p["robots"]),
            hosts=self.spark.read.parquet(p["hosts"]),
            checkpoint_dir=self.ckpt,
            config=self.config,
        )

    def seeds(self):
        from pyspark.sql import functions as F

        p = self.inp.paths
        if self.plan["seeds"] == "all":
            return (
                self.spark.read.parquet(p["pages"]).select("url")
                .withColumn("depth", F.lit(0)).withColumn("priority", F.lit(1.0))
            )
        return self.spark.read.parquet(p["seeds"])

    def load_crawler(self) -> float:
        """Build the crawl's Crawler and materialize its pages snapshot
        (the per-crawler set-up cost); replaces an earlier load."""
        t = time.perf_counter()
        if self.crawler is not None:
            self.crawler.pages_snapshot().unpersist()
        self.crawler = self._crawler("pages")
        self.crawler.pages_snapshot().count()
        return time.perf_counter() - t

    def load_recrawler(self) -> float:
        """Same for the recrawl's Crawler over ``pages_v2``."""
        t = time.perf_counter()
        self.recrawler = self._crawler("pages_v2")
        self.recrawler.pages_snapshot().count()
        return time.perf_counter() - t

    def _op(self, kind: str, wall: float, bad: list[str], **info) -> None:
        self.ops.append({"kind": kind, "wall_s": wall, "ok": not bad, **info})
        self.failures += bad
        for b in bad:
            log(f"CHECK FAILED {b}")

    def _read(self, round_no: int, table: str, cols: list[str]):
        import pyarrow.parquet as pq

        path = os.path.join(self.ckpt, f"round={round_no:05d}", table)
        return pq.read_table(path, columns=cols).to_pandas()

    def _check_round(self, label: str, counts: dict) -> list[str]:
        from checks import check_round

        r = counts["round"]
        sched = self._read(r, "scheduled",
                           ["url", "host", "url_hash_hi", "url_hash_lo"])
        fetched = self._read(r, "fetched", ["url", "fetched", "text", "links"])
        bad = check_round(
            label, counts, sched, fetched, self.seen_keys,
            self.inp.snap_text, self.inp.budgets, self.inp.disallow,
            self.config.default_budget,
        )
        self.seen_keys.update(zip(sched["url_hash_hi"], sched["url_hash_lo"]))
        self.fetched_urls.update(fetched.loc[fetched["fetched"], "url"])
        self.fetched_tables.append(fetched)
        self.round_counts.append(counts)
        return bad

    def crawl(self) -> None:
        if self.crawler is None:
            self.crawler = self._crawler("pages")
        seeds = self.seeds()
        for r in range(self.plan["rounds"]):
            with self.tracer.op("crawl.round", round=r):
                t = time.perf_counter()
                res = self.crawler.run(seeds, rounds=r + 1)
                wall = time.perf_counter() - t
            if len(res) != 1:
                self._op("round", wall, [f"{self.label} round {r}: run() "
                                         f"returned {len(res)} rounds"])
                return
            counts = res[0]
            bad = self._check_round(f"{self.label} round {r}", counts)
            self._op("round", wall, bad, counts=counts)

    def resume(self, state_file: str | None) -> None:
        from checks import check_repeatable, counts_digest

        r = self.plan["rounds"]
        with self.tracer.op("crawl.resume", round=r):
            t = time.perf_counter()
            fresh = self._crawler("pages")
            res = fresh.run(self.seeds(), rounds=r + 1)
            wall = time.perf_counter() - t
        if len(res) != 1:
            self._op("resume", wall, [f"{self.label} resume: run() returned "
                                      f"{len(res)} rounds"])
            return
        bad = self._check_round(f"{self.label} resume", res[0])
        if state_file:
            bad += check_repeatable(f"{self.label} crawl", state_file,
                                    counts_digest(self.round_counts))
        self._op("resume", wall, bad, counts=res[0])
        fresh.pages_snapshot().unpersist()

    def recrawl(self) -> None:
        import pyarrow.parquet as pq

        from checks import check_recrawl

        prior = {u: self.inp.snap_text[u] for u in self.fetched_urls}
        v2 = self.inp.snap_text_v2
        for k in range(self.plan["recrawl_passes"]):
            with self.tracer.op("recrawl.pass", recrawl=k):
                t = time.perf_counter()
                counts = self.recrawler.recrawl_round(
                    k, now_s=RECRAWL_T0 + k * RECRAWL_SPACING_S
                )
                wall = time.perf_counter() - t
            report = {s: int(n) for s, (n, _) in counts.items()}
            saved = sum(int(b or 0) for _, b in counts.values())
            path = os.path.join(self.ckpt, f"round={k:05d}", "recrawl_checks")
            chk = pq.read_table(path, columns=["url", "changed"]).to_pandas()
            changed = set(chk.loc[chk["changed"].astype(bool), "url"])
            due = set(prior)
            modified = {u for u in due if u in v2 and v2[u] != prior[u]}
            gone = {u for u in due if u not in v2}
            bad = check_recrawl(f"{self.label} recrawl {k}", report, changed,
                                modified, gone, due)
            for u in modified:
                prior[u] = v2[u]
            self._op("recrawl", wall, bad, due=sum(report.values()),
                     modified=report.get("modified", 0), bytes_saved=saved)

    def corpus(self) -> None:
        from checks import check_corpus
        from metadata_crawler_spark.plans.corpus_pipeline import clean_corpus
        from metadata_crawler_spark.plans.ingest import ingest_pages

        stage_counts: dict[str, int] = {}
        with self.tracer.op("corpus.pipeline"):
            t = time.perf_counter()
            raw = self.spark.read.parquet(self.inp.paths["corpus"])
            docs = ingest_pages(raw.select("url", "html"), boilerplate=False)
            docs = docs.join(raw.select("url", "id"), "url").select("id", "text")
            out = clean_corpus(docs, "text", "id", stage_counts=stage_counts)
            ids = {int(r["id"]) for r in out.select("id").collect()}
            wall = time.perf_counter() - t
        bad = check_corpus(f"{self.label} corpus", ids, stage_counts,
                           self.inp.corpus_ids, self.inp.exact_dup_ids)
        self._op("corpus", wall, bad, docs=len(self.inp.corpus_ids),
                 out=len(ids), stage_counts=dict(stage_counts))


# -- metrics -------------------------------------------------------------------
def end_to_end(ph: Phases, setup_s: float, rss_mb: float) -> dict:
    """The crawl metrics cover every crawl op: the rounds and the resumed
    round (which also pays the fresh Crawler's set-up)."""
    crawl = [o for o in ph.ops if o["kind"] in ("round", "resume")]
    resume = [o for o in ph.ops if o["kind"] == "resume"]
    passes = [o for o in ph.ops if o["kind"] == "recrawl"]
    corpus = [o for o in ph.ops if o["kind"] == "corpus"]
    crawl_wall = sum(o["wall_s"] for o in crawl)
    counted = [o.get("counts", {}) for o in crawl]
    return {
        "setup_s": setup_s,
        "frontier_urls_per_s":
            sum(c.get("frontier_in", 0) for c in counted) / crawl_wall,
        "fetched_pages_per_s":
            sum(c.get("fetched", 0) for c in counted) / crawl_wall,
        "round_p50_s": statistics.median(o["wall_s"] for o in crawl),
        "resume_s": resume[0]["wall_s"],
        "recrawl_urls_per_s":
            sum(o["due"] for o in passes) / sum(o["wall_s"] for o in passes),
        "corpus_docs_per_s":
            sum(o["docs"] for o in corpus) / sum(o["wall_s"] for o in corpus),
        "peak_rss_mb": rss_mb,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=30.0,
                    help="nominal length of the timed phases; the work plan "
                         "is fixed per workload so that runs compare")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "metadata_crawler_spark")):
        print("perfbench: metadata_crawler_spark/ not found in the working "
              "directory; run from the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    spark = None
    try:
        import inputs

        plan = WORKLOADS[args.workload]
        t = time.perf_counter()
        cache = os.path.join(root, ".perfbench_cache")
        inp = inputs.generate(cache, os.path.join(work, "in"),
                              plan["n_pages"], plan["corpus_docs"], args.seed)
        warm_inp = inputs.generate(cache, os.path.join(work, "warm"),
                                   WARMUP["n_pages"], WARMUP["corpus_docs"],
                                   args.seed + 7919)
        log(f"inputs generated in {time.perf_counter() - t:.1f}s")

        t_setup = time.perf_counter()
        spark = build_session(work)
        session_s = time.perf_counter() - t_setup
        from spans import NullTracer, Tracer

        t = time.perf_counter()
        warm = Phases(spark, warm_inp, {**WARMUP, "seeds": plan["seeds"]},
                      work, NullTracer(), "warm-up")
        warm.crawl()
        warm.crawler.pages_snapshot().unpersist()
        warmup_s = time.perf_counter() - t
        log("warm-up ops " + ", ".join(
            f"{o['kind']} {o['wall_s']:.2f}s" for o in warm.ops))
        if warm.failures:
            log(f"warm-up checks failed: {len(warm.failures)}")

        tracer = Tracer(spark) if args.trace else NullTracer()
        ph = Phases(spark, inp, plan, work, tracer, args.workload)
        loads = [ph.load_crawler() for _ in range(SETUP_REPEATS)]
        reload_s = ph.load_recrawler()
        setup_s = session_s + warmup_s + statistics.median(loads) + reload_s
        log(f"setup {setup_s:.2f}s (session {session_s:.2f}s, warm-up "
            f"{warmup_s:.2f}s, loads {[round(x, 2) for x in loads]}, "
            f"recrawl load {reload_s:.2f}s)")

        plan_id = hashlib.sha256(
            json.dumps(plan, sort_keys=True).encode()).hexdigest()[:12]
        state = os.path.join(
            root, ".perfbench_state",
            f"counts-{args.workload}-{args.seed}-{plan_id}.sha256")
        tracer.install()
        t_timed0 = time.time()
        try:
            ph.crawl()
            ph.resume(state)
            ph.recrawl()
            ph.corpus()
        finally:
            tracer.uninstall()
        t_timed1 = time.time()

        jvm_pid = spark.sparkContext._gateway.proc.pid
        rss = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
        log(f"peak rss: jvm {vm_hwm_mb(jvm_pid):.0f} MB, "
            f"python {vm_hwm_mb('self'):.0f} MB")
        e2e = end_to_end(ph, setup_s, rss)
        for o in ph.ops:
            log(f"op {o['kind']:8s} {o['wall_s']:7.3f}s ok={o['ok']}")
        failed = sum(1 for o in ph.ops if not o["ok"])
        result_file = os.path.join(
            out_dir, f"result-{args.workload}-{args.seed}-trace{args.trace}.json"
        )
        if args.trace:
            import layers

            metrics = layers.per_layer(spark, ph, tracer, t_timed0, t_timed1)
            untraced = os.path.join(
                out_dir, f"result-{args.workload}-{args.seed}-trace0.json"
            )
            delta = None
            if os.path.exists(untraced):
                with open(untraced) as fh:
                    base = json.load(fh)["end_to_end"]
                delta = {k: e2e[k] - base[k] for k in e2e if k in base}
                log(f"tracing overhead (traced - untraced): {delta}")
            tracer.write(
                os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
                {"end_to_end": e2e, "overhead_vs_untraced": delta,
                 "per_layer": metrics},
            )
            units = layers.UNITS
        else:
            metrics, units = e2e, END_TO_END
        with open(result_file, "w") as fh:
            json.dump({"end_to_end": e2e, "ops": ph.ops}, fh, default=str)
        result = {
            "correct": not (ph.failures or warm.failures),
            "attempted": len(ph.ops),
            "failed": failed,
            "metrics": {k: {"value": float(v), "unit": units[k]}
                        for k, v in metrics.items()},
        }
    finally:
        log("stopping")
        if spark is not None:
            spark.stop()
            spark.sparkContext._gateway.shutdown()
            proc = spark.sparkContext._gateway.proc
            proc.stdin.close()
            proc.wait(timeout=60)
        shutil.rmtree(work, ignore_errors=True)
        log("stopped")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
