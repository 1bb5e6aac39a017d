"""Spans around the calls into each layer, and the Spark jobs they own.

Only the traced run (``--trace 1``) installs these wrappers; the untraced
run executes the program unwrapped. Spans are recorded from the
benchmark's side of each layer boundary:

- *plan* spans wrap the lazy layer functions ``run_round`` calls
  (``dedup_against_seen``, ``gate_frontier``, ``per_host_topk``,
  ``with_politeness_schedule``, ``expand_outlinks``, ``with_canonical``,
  ``with_url_hash``, ``bloom_build``, ``bloom_union``): their duration
  is driver planning time only;
- *action* spans wrap what triggers Spark jobs (``DataFrame.count`` /
  ``collect``, ``DataFrameWriter.parquet``, ``checkpoint_observed``) and
  *io* spans wrap the tables layer's driver work (``ManifestLog.commit``,
  ``Crawler._load_state``, ``read_rounds``).

Every span sets the Spark job description of the thread it runs in to
its own id, so each job is owned by the innermost span of the thread
that submitted it. That covers ``run_round``'s pool threads: the writes
they run are wrapped, and the wrapper tags the pool thread itself.
Spans stay in memory; ``write`` dumps them once at the end.
"""

from __future__ import annotations

import functools
import json
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

TAG = "perfbench#"

_DUR_RE = re.compile(r"([\d.,]+)\s*(ms|s|m|min|h)\b")
_DUR_UNIT = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_PY_NODE_RE = re.compile(
    r"^(?:ArrowEvalPython \[|FlatMapGroupsInPandas \[[^\]]*\], |MapInPandas )"
    r"([A-Za-z_][A-Za-z0-9_]*)\("
)
_PY_DOT_RE = re.compile(
    r'label="<b>(?:ArrowEvalPython|FlatMapGroupsInPandas|MapInPandas)</b>'
    r'(.*?)" tooltip="(.*?)"\];'
)
_PY_TIME_RE = re.compile(
    r"time to run Python workers(?::\s*| total \([^<]*<br>)"
    r"([\d.,]+\s*(?:ms|s|m|min|h))\b"
)


def parse_duration_s(text: str) -> float:
    """Seconds in a formatted SQL timing value such as "829 ms" or "2.2 s"."""
    m = _DUR_RE.search(text)
    return float(m.group(1).replace(",", "")) * _DUR_UNIT[m.group(2)] if m else 0.0


class NullTracer:
    """The untraced run: ops are plain timers, nothing is wrapped."""

    @contextmanager
    def op(self, name: str, **attrs):
        yield

    def install(self) -> None:
        pass

    def uninstall(self) -> None:
        pass


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 1
        self.op_span: int | None = None
        self.overhead_s = 0.0
        self._undo: list[tuple[object, str, object]] = []
        self._stage_calls = 0
        #: frames returned by wrapped functions, counted after the run
        self.captured: dict[str, list] = defaultdict(list)

    # -- spans ---------------------------------------------------------
    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def _tag(self, sid: int | None) -> None:
        self.sc.setLocalProperty(
            "spark.job.description", None if sid is None else f"{TAG}{sid}"
        )

    @contextmanager
    def span(self, name: str, kind: str, **attrs):
        c0 = time.perf_counter()
        stack = self._stack()
        with self._lock:
            sid = self._next
            self._next += 1
        rec = {
            "id": sid,
            "parent": stack[-1] if stack else self.op_span,
            "op": self.op_span,
            "name": name,
            "kind": kind,
            "thread": threading.get_ident(),
            "attrs": attrs,
        }
        stack.append(sid)
        self._tag(sid)
        with self._lock:
            self.spans.append(rec)
            self.overhead_s += time.perf_counter() - c0
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            c1 = time.perf_counter()
            stack.pop()
            self._tag(stack[-1] if stack else None)
            with self._lock:
                self.overhead_s += time.perf_counter() - c1

    @contextmanager
    def op(self, name: str, **attrs):
        """One benchmark operation (a round, a resume, a recrawl pass, a
        corpus run): the root of its spans; pool-thread spans attach to
        it."""
        with self.span(name, "op", **attrs) as rec:
            self.op_span = rec["id"]
            self._stage_calls = 0
            try:
                yield rec
            finally:
                self.op_span = None

    # -- wrappers ------------------------------------------------------
    def _patch(self, owner, attr: str, make) -> None:
        orig = getattr(owner, attr)
        self._undo.append((owner, attr, orig))
        setattr(owner, attr, make(orig))

    def _spanned(self, name: str, kind: str, namer=None):
        tracer = self

        def make(orig):
            @functools.wraps(orig)
            def wrapper(*args, **kwargs):
                label = namer(args, kwargs) if namer else name
                with tracer.span(label, kind):
                    return orig(*args, **kwargs)

            return wrapper

        return make

    def install(self) -> None:
        from pyspark.sql.readwriter import DataFrameWriter

        import metadata_crawler_spark.operators.common as common
        import metadata_crawler_spark.plans.corpus_pipeline as cp
        import metadata_crawler_spark.plans.round_loop as rl
        from metadata_crawler_spark.sources.tables import ManifestLog

        plan = {
            "dedup_against_seen": "seen.plan",
            "bloom_build": "seen.plan",
            "bloom_union": "seen.plan",
            "gate_frontier": "frontier.plan",
            "per_host_topk": "frontier.plan",
            "with_politeness_schedule": "frontier.plan",
            "expand_outlinks": "frontier.plan",
            "with_canonical": "urls.plan",
            "with_url_hash": "urls.plan",
        }
        for fn, name in plan.items():
            self._patch(rl, fn, self._spanned(name, "plan"))
        self._patch(rl, "read_rounds", self._spanned("tables.read", "io"))
        self._patch(rl.Crawler, "_load_state", self._spanned("tables.read", "io"))
        self._patch(ManifestLog, "commit", self._spanned("tables.commit", "io"))

        def write_name(args, kwargs):
            path = args[1] if len(args) > 1 else kwargs.get("path", "")
            return "tables.write:" + str(path).rstrip("/").rsplit("/", 1)[-1]

        self._patch(DataFrameWriter, "parquet",
                    self._spanned("", "action", namer=write_name))

        def count_name(args, kwargs):
            # run_round's scheduled set is the only counted frame that
            # carries the politeness offsets: its count runs the dedup,
            # gate and top-k pipeline
            cols = args[0].columns
            return ("frontier.schedule" if "fetch_offset_ms" in cols
                    else "action.count")

        # the concrete (classic) DataFrame class overrides the actions
        frame = type(self.spark.range(0))
        self._patch(frame, "count",
                    self._spanned("", "action", namer=count_name))
        self._patch(frame, "collect",
                    self._spanned("action.collect", "action"))

        tracer = self

        def stage_name(args, kwargs):
            tracer._stage_calls += 1
            return f"corpus.checkpoint:{tracer._stage_calls}"

        self._patch(common, "checkpoint_observed",
                    self._spanned("", "action", namer=stage_name))

        def capture(name):
            def make(orig):
                @functools.wraps(orig)
                def wrapper(*args, **kwargs):
                    out = orig(*args, **kwargs)
                    tracer.captured[name].append(out)
                    return out

                return wrapper

            return make

        for fn in ("lsh_candidate_pairs", "jaccard_verify"):
            self._patch(cp, fn, capture(fn))

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- engine side ---------------------------------------------------
    def collect_engine(self, skew_prefix: str) -> dict:
        """Read job, stage and SQL-node metrics from Spark's status store
        for the jobs this tracer's spans own. Stages of jobs whose span
        name starts with ``skew_prefix`` also get their task skew."""
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        conv = self.sc._jvm.scala.jdk.javaapi.CollectionConverters
        store = jsc.statusStore()
        names = {s["id"]: s["name"] for s in self.spans}

        jobs: dict[int, dict] = {}
        untagged: list[float] = []
        for j in conv.asJava(store.jobsList(None)):
            desc = j.description()
            d = desc.get() if desc.isDefined() else ""
            sub = j.submissionTime()
            submitted = sub.get().getTime() / 1e3 if sub.isDefined() else 0.0
            sid = int(d[len(TAG):]) if d.startswith(TAG) else None
            if sid not in names:
                untagged.append(submitted)
                continue
            jobs[j.jobId()] = {
                "span": sid,
                "stages": [int(s) for s in conv.asJava(j.stageIds())],
            }

        quant = self.sc._gateway.new_array(self.sc._jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        stages: dict[int, dict] = {}
        for jid in sorted(jobs):
            skew = names[jobs[jid]["span"]].startswith(skew_prefix)
            for st in jobs[jid]["stages"]:
                if st in stages:
                    continue
                sd = store.lastStageAttempt(st)
                rec = {
                    "job": jid,
                    "tasks": sd.numCompleteTasks(),
                    "run_s": sd.executorRunTime() / 1e3,
                    "cpu_s": sd.executorCpuTime() / 1e9,
                    "gc_s": sd.jvmGcTime() / 1e3,
                    "shuffle_bytes": sd.shuffleWriteBytes(),
                    "spill_bytes": sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    "skew": None,
                }
                if skew and rec["tasks"] >= 2:
                    summ = store.taskSummary(st, sd.attemptId(), quant)
                    if summ.isDefined():
                        rt = list(conv.asJava(summ.get().executorRunTime()))
                        rec["skew"] = max(rt[1], 1.0) / max(rt[0], 1.0)
                stages[st] = rec

        # Python-operator time per plan node, from one DOT rendering per
        # SQL execution. A cached plan shows up again in later executions
        # with the same node description (expression ids included), so
        # each description counts once, at its largest value.
        sql = self.spark._jsparkSession.sharedState().statusStore()
        py: dict[str, dict] = {}
        for e in conv.asJava(sql.executionsList()):
            e_jobs = sorted(int(k) for k in conv.asJava(e.jobs()).keySet()
                            if int(k) in jobs)
            if not e_jobs:
                continue
            eid = e.executionId()
            dot = sql.planGraph(eid).makeDotFile(sql.executionMetrics(eid))
            for m in _PY_DOT_RE.finditer(dot):
                label, tip = m.group(1), m.group(2)
                udf = _PY_NODE_RE.match(tip)
                t = _PY_TIME_RE.search(label)
                if not udf or not t:
                    continue
                secs = parse_duration_s(t.group(1))
                if secs > py.get(tip, {}).get("s", -1.0):
                    py[tip] = {"udf": udf.group(1), "s": secs, "job": e_jobs[0]}
        return {"jobs": jobs, "stages": stages, "py": list(py.values()),
                "untagged_submitted": untagged}

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part of it covered by its child spans
    (children on pool threads may overlap each other; the union counts
    once)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None and "t1" in s:
            kids[s["parent"]].append((s["t0"], s["t1"]))
    out: dict[int, float] = {}
    for s in spans:
        if "t1" not in s:
            continue
        covered, end = 0.0, s["t0"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, end), min(b, s["t1"])
            if b > a:
                covered += b - a
                end = b
        out[s["id"]] = (s["t1"] - s["t0"]) - covered
    return out
