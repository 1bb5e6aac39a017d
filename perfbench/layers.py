"""Per-layer metrics of a traced run.

Three sources, each named in the metric's definition in README.md:

- spans recorded by ``spans.Tracer`` (driver time per call, self times);
- Spark's status store (stage metrics of the jobs each span owns, and
  the per-node "time to run Python workers" of the pandas operators,
  matched by UDF name);
- counts read back from the committed tables, or recomputed after the
  timed region through the layers' public functions on the committed
  state (the seen-filter and gate outcomes).
"""

from __future__ import annotations

import os
import statistics
from collections import defaultdict

from spans import self_times

CORPUS_STAGES = ("input", "quality_gate", "exact_dedup", "fuzzy_dedup",
                 "paragraph_dedup")
SELF_LAYERS = ("round_loop", "seen", "frontier", "urls", "tables", "action",
               "recrawl", "corpus")

UNITS = {
    "round_loop.rounds": "count",
    "round_loop.jobs_per_round": "count",
    "round_loop.plan_s": "s",
    "round_loop.schedule_s": "s",
    "round_loop.fetch_s": "s",
    "round_loop.next_s": "s",
    "round_loop.barrier_s": "s",
    "round_loop.unattributed_s": "s",
    "urls.rows": "count",
    "urls.busy_s": "s",
    "seen.candidates": "count",
    "seen.definitely_new_frac": "frac",
    "seen.exact_join_rows": "count",
    "seen.filter_bytes": "B",
    "seen.busy_s": "s",
    "seen.evolve_s": "s",
    "frontier.eligible_frac": "frac",
    "frontier.scheduled_frac": "frac",
    "frontier.outlinks": "count",
    "frontier.children_distinct_frac": "frac",
    "frontier.busy_s": "s",
    "frontier.task_skew": "ratio",
    "fetch.hit_frac": "frac",
    "fetch.html_bytes": "B",
    "fetch.extract_busy_s": "s",
    "tables.writes": "count",
    "tables.bytes_written": "B",
    "tables.write_s": "s",
    "tables.commit_s": "s",
    "tables.read_s": "s",
    "recrawl.due": "count",
    "recrawl.modified_frac": "frac",
    "recrawl.bytes_saved": "B",
    "recrawl.busy_s": "s",
    "recrawl.unattributed_s": "s",
    "ingest.docs_kept_frac": "frac",
    "ingest.busy_s": "s",
    **{f"corpus.{s}_out": "count" for s in CORPUS_STAGES},
    **{f"corpus.{s}_busy_s": "s" for s in CORPUS_STAGES},
    "corpus.lsh_candidate_pairs": "count",
    "corpus.lsh_verified_frac": "frac",
    "corpus.unattributed_s": "s",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.tasks": "count",
    **{f"self.{layer}_s": "s" for layer in SELF_LAYERS},
    "trace.overhead_s": "s",
    "trace.spans": "count",
    "trace.unattributed_jobs": "count",
}


def layer_of(name: str) -> str:
    if name in ("crawl.round", "crawl.resume"):
        return "round_loop"
    if name == "recrawl.pass":
        return "recrawl"
    return name.replace(":", ".").split(".", 1)[0]


def _du(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _frac(a: float, b: float) -> float:
    return a / b if b else 0.0


def seen_gate_counts(spark, ph) -> dict:
    """Re-run the seen probe and the admission gates of every crawl round
    after the first on its committed inputs (frontier_next, bloom and
    scheduled sets of the round before), through the public operator
    functions. Untimed; the traced jobs are already collected."""
    from pyspark.sql import functions as F

    from metadata_crawler_spark.operators.frontier import gate_frontier
    from metadata_crawler_spark.operators.seen import (
        dedup_against_seen,
        probe_with_broadcast,
    )

    cfg = ph.config
    p = ph.inp.paths
    robots = spark.read.parquet(p["robots"])
    hosts = spark.read.parquet(p["hosts"])
    out = defaultdict(int)
    for counts in ph.round_counts:
        r = counts["round"]
        if r == 0:
            continue
        prev = os.path.join(ph.ckpt, f"round={r - 1:05d}")
        fr = spark.read.parquet(os.path.join(prev, "frontier_next"))
        bloom = spark.read.parquet(os.path.join(prev, "bloom"))
        row = probe_with_broadcast(fr, bloom).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("maybe_seen").cast("long")).alias("maybe"),
        ).first()
        seen = spark.read.parquet(*[
            os.path.join(ph.ckpt, f"round={i:05d}", "scheduled")
            for i in range(r)
        ]).select("url_hash_hi", "url_hash_lo")
        new = dedup_against_seen(fr, seen, bloom, cfg.n_shards, True)
        eligible = gate_frontier(new, hosts, robots, cfg.default_budget).count()
        out["candidates"] += int(row["n"])
        out["maybe"] += int(row["maybe"] or 0)
        out["deduped"] += counts["deduped"]
        out["eligible"] += eligible
        out["scheduled"] += counts["scheduled"]
    return out


def per_layer(spark, ph, tracer, t0: float, t1: float) -> dict:
    spans = tracer.spans
    by_id = {s["id"]: s for s in spans}
    eng = tracer.collect_engine("frontier.schedule")
    jobs, stages = eng["jobs"], eng["stages"]

    def op_of(s: dict) -> int | None:
        return s["id"] if s["kind"] == "op" else s["op"]

    timed_jobs = set(jobs)
    untagged = [t for t in eng["untagged_submitted"] if t0 <= t <= t1]
    jobs_by_op: dict[int, list[int]] = defaultdict(list)
    for j in timed_jobs:
        jobs_by_op[op_of(by_id[jobs[j]["span"]])].append(j)
    stages_by_job: dict[int, list[dict]] = defaultdict(list)
    for st in stages.values():
        stages_by_job[st["job"]].append(st)

    def run_s(job_ids) -> float:
        return sum(st["run_s"] for j in job_ids for st in stages_by_job[j])

    def jobs_named(prefix: str, ops: set | None = None) -> list[int]:
        return [j for j in timed_jobs
                if by_id[jobs[j]["span"]]["name"].startswith(prefix)
                and (ops is None or op_of(by_id[jobs[j]["span"]]) in ops)]

    def py_s(udfs: set[str], job_ids=None) -> float:
        keep = timed_jobs if job_ids is None else set(job_ids)
        return sum(n["s"] for n in eng["py"]
                   if n["udf"] in udfs and n["job"] in keep)

    def dur(prefix: str) -> float:
        return sum(s["t1"] - s["t0"] for s in spans
                   if s["name"].startswith(prefix) and "t1" in s)

    selfs = self_times(spans)
    op_spans = [s for s in spans if s["kind"] == "op"]
    paired = list(zip(op_spans, ph.ops))
    # every run_round call: the crawl's rounds and the resumed round
    rounds = [(s, o) for s, o in paired
              if s["name"] in ("crawl.round", "crawl.resume")]
    crawl_ops = {s["id"] for s, _ in rounds}
    recrawl = [(s, o) for s, o in paired if s["name"] == "recrawl.pass"]
    corpus = [(s, o) for s, o in paired if s["name"] == "corpus.pipeline"]
    crawl_jobs = [j for op in crawl_ops for j in jobs_by_op[op]]

    m: dict[str, float] = {}
    # plans.round_loop
    m["round_loop.rounds"] = len(rounds)
    m["round_loop.jobs_per_round"] = statistics.mean(
        len(jobs_by_op[s["id"]]) for s, _ in rounds)
    m["round_loop.plan_s"] = statistics.mean(
        sum(p["t1"] - p["t0"] for p in spans
            if p["kind"] == "plan" and p["op"] == s["id"]
            and by_id.get(p["parent"], {}).get("kind") != "plan")
        for s, _ in rounds)
    for phase in ("schedule", "fetch", "next", "barrier"):
        m[f"round_loop.{phase}_s"] = statistics.median(
            o["counts"]["phase_walls"][phase] for _, o in rounds)
    m["round_loop.unattributed_s"] = statistics.median(
        selfs[s["id"]] for s, _ in rounds)

    # functions.urls: rows entering with_canonical = seeds, then each
    # round's distinct raw outlinks (run_round pre-combines on raw url)
    seeds = ph.seeds().count()
    distinct_children = outlinks = 0
    for f in ph.fetched_tables:
        links = f.loc[f["fetched"], "links"].explode().dropna()
        outlinks += len(links)
        distinct_children += links.nunique()
    m["urls.rows"] = seeds + distinct_children
    m["urls.busy_s"] = py_s({"canonicalize_udf"}, crawl_jobs)

    # operators.seen + operators.frontier gates (recomputed, untimed)
    sg = seen_gate_counts(spark, ph)
    m["seen.candidates"] = sg["candidates"]
    m["seen.definitely_new_frac"] = _frac(sg["candidates"] - sg["maybe"],
                                          sg["candidates"])
    m["seen.exact_join_rows"] = sg["maybe"]
    last = max(c["round"] for c in ph.round_counts)
    m["seen.filter_bytes"] = _du(
        os.path.join(ph.ckpt, f"round={last:05d}", "bloom"))
    m["seen.busy_s"] = py_s({"probe"}, crawl_jobs)
    m["seen.evolve_s"] = dur("tables.write:bloom")

    m["frontier.eligible_frac"] = _frac(sg["eligible"], sg["deduped"])
    m["frontier.scheduled_frac"] = _frac(sg["scheduled"], sg["eligible"])
    m["frontier.outlinks"] = outlinks
    m["frontier.children_distinct_frac"] = _frac(distinct_children, outlinks)
    fj = jobs_named("frontier.schedule") + jobs_named(
        "tables.write:frontier_next")
    m["frontier.busy_s"] = max(
        0.0, run_s(fj) - py_s({"probe", "canonicalize_udf"}, fj))
    skews = []
    for s, _ in rounds:
        sk = [st["skew"] for j in jobs_named("frontier.schedule", {s["id"]})
              for st in stages_by_job[j] if st["skew"] is not None]
        if sk:
            skews.append(max(sk))
    m["frontier.task_skew"] = statistics.median(skews) if skews else 1.0

    # fetch: round_loop._fetch_batches + functions.text
    crawl_counts = ph.round_counts
    m["fetch.hit_frac"] = _frac(sum(c["fetched"] for c in crawl_counts),
                                sum(c["scheduled"] for c in crawl_counts))
    m["fetch.html_bytes"] = sum(ph.inp.snap_html_len.get(u, 0)
                                for u in ph.fetched_urls)
    m["fetch.extract_busy_s"] = py_s({"_fetch_batches"}, crawl_jobs)

    # sources.tables
    m["tables.writes"] = sum(1 for s in spans
                             if s["name"].startswith("tables.write:"))
    m["tables.bytes_written"] = _du(ph.ckpt)
    m["tables.write_s"] = dur("tables.write:")
    m["tables.commit_s"] = dur("tables.commit")
    m["tables.read_s"] = dur("tables.read")

    # plans.recrawl + operators.changes
    m["recrawl.due"] = sum(o["due"] for _, o in recrawl)
    m["recrawl.modified_frac"] = _frac(sum(o["modified"] for _, o in recrawl),
                                       m["recrawl.due"])
    m["recrawl.bytes_saved"] = sum(o["bytes_saved"] for _, o in recrawl)
    m["recrawl.busy_s"] = run_s(
        [j for s, _ in recrawl for j in jobs_by_op[s["id"]]])
    m["recrawl.unattributed_s"] = statistics.median(
        selfs[s["id"]] for s, _ in recrawl)

    # plans.ingest, plans.corpus_pipeline, operators.dedup, functions.quality
    cs, co = corpus[0]
    sc = co["stage_counts"]
    names = list(sc)
    ck_spans = sorted((s for s in spans if s["op"] == cs["id"]
                       and s["name"].startswith("corpus.checkpoint:")),
                      key=lambda s: int(s["name"].split(":")[1]))
    busy = {names[i]: run_s(jobs_named(s["name"], {cs["id"]}))
            for i, s in enumerate(ck_spans) if i < len(names)}
    m["ingest.docs_kept_frac"] = _frac(sc.get("input", 0), co["docs"])
    m["ingest.busy_s"] = busy.get("input", 0.0)
    for st in CORPUS_STAGES:
        m[f"corpus.{st}_out"] = sc.get(st, 0)
        m[f"corpus.{st}_busy_s"] = busy.get(st, 0.0)
    pairs = sum(df.count() for df in tracer.captured["lsh_candidate_pairs"])
    verified = sum(df.count() for df in tracer.captured["jaccard_verify"])
    m["corpus.lsh_candidate_pairs"] = pairs
    m["corpus.lsh_verified_frac"] = _frac(verified, pairs)
    m["corpus.unattributed_s"] = selfs[cs["id"]]

    # engine, over every job a span of the timed region owns
    timed_stages = [st for j in timed_jobs for st in stages_by_job[j]]
    m["spark.shuffle_bytes"] = sum(st["shuffle_bytes"] for st in timed_stages)
    m["spark.spill_bytes"] = sum(st["spill_bytes"] for st in timed_stages)
    m["spark.executor_cpu_s"] = sum(st["cpu_s"] for st in timed_stages)
    m["spark.gc_s"] = sum(st["gc_s"] for st in timed_stages)
    m["spark.tasks"] = sum(st["tasks"] for st in timed_stages)

    totals = defaultdict(float)
    for s in spans:
        if s["id"] in selfs:
            totals[layer_of(s["name"])] += selfs[s["id"]]
    for layer in SELF_LAYERS:
        m[f"self.{layer}_s"] = totals[layer]
    m["trace.overhead_s"] = tracer.overhead_s
    m["trace.spans"] = len(spans)
    m["trace.unattributed_jobs"] = len(untagged)
    if set(m) != set(UNITS):
        raise RuntimeError(f"layer metrics out of sync: {set(m) ^ set(UNITS)}")
    return m
