"""Traced mode: spans around the calls into each layer, Spark job counters and
the per-layer metrics derived from them.

The wrappers patch the layer functions from here, so the program itself is
unchanged. A span records name, start, end, parent span and request id; spans
are kept in memory and written out when the run ends. Every span that may run
Spark jobs sets a job group named after itself on its thread (the thread's
previous group is restored after), so each job in Spark's event log names the
span that launched it. Bytes, task counts and CPU time come from that event
log, which only the traced run enables.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

# Python-kernel operators: a job running one of these scans and scores postings
_KERNEL_SCOPES = {"MapInPandas", "FlatMapGroupsInPandas", "MapInArrow",
                  "ArrowEvalPython", "BatchEvalPython"}
BUILD_STAGES = ("write_analyzed", "write_segment", "write_norms",
                "write_dictionary", "write_stats")


class Tracer:
    """Span recorder. With `sc=None` every method is a cheap no-op."""

    def __init__(self, sc=None):
        self.sc = sc
        self.enabled = sc is not None
        self.spans: list[dict] = []
        self.counters: Counter = Counter()
        self.bookkeeping_s = 0.0
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._request: dict | None = None
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, spark: bool = True, request: bool = False):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = next(self._ids)
        if request:
            parent = None
        elif stack:
            parent = stack[-1]["id"]
        else:  # a worker thread of the layer under the current request
            parent = self._request["id"] if self._request else None
        rec = {"id": sid, "name": name, "parent": parent,
               "req": sid if request else
               (self._request["id"] if self._request else None),
               "thread": threading.get_ident(), "start": time.time()}
        if request:
            self._request = rec
        prev_group = None
        if spark:
            prev_group = self.sc.getLocalProperty("spark.jobGroup.id")
            self.sc.setJobGroup(f"span-{sid}", name)
        stack.append(rec)
        self.bookkeeping_s += time.perf_counter() - t
        try:
            yield rec
        finally:
            t = time.perf_counter()
            rec["end"] = time.time()
            stack.pop()
            if spark:
                if prev_group is None:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
                else:
                    self.sc.setJobGroup(prev_group, prev_group)
            if request:
                self._request = None
            with self._lock:
                self.spans.append(rec)
            self.bookkeeping_s += time.perf_counter() - t

    def request(self, name: str, spark: bool = True):
        """A root span: one operation of the closed-loop client."""
        return self.span(name, spark=spark, request=True)

    def patch(self, owner, attr: str, replacement) -> None:
        self._patched.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def wrap(self, owner, attr: str, name: str, spark: bool = True) -> None:
        """Record a span around every call of `owner.attr`."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def traced(*a, **kw):
            with tracer.span(name, spark=spark):
                return fn(*a, **kw)

        self.patch(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()


def install(tracer: Tracer) -> None:
    """Wrap the calls into each layer of solr_spark."""
    from solr_spark.indexing import build, deletes
    from solr_spark.query import bm25, docsets, local

    # indexing.build: the build entry point and its stage functions
    tracer.wrap(build, "build_index", "build_index")
    for stage in BUILD_STAGES:
        tracer.wrap(build, stage, stage)
    # indexing.deletes: the tombstone read on every Spark-path query
    tracer.wrap(deletes, "deleted_array", "deleted_array")
    # query.bm25 / docsets: the Spark path
    tracer.wrap(bm25, "bm25_topk", "bm25_topk")
    tracer.wrap(docsets, "filter_docids", "filter_docids")
    # query.local: the serving tier
    cls = local.LocalSearcher
    tracer.wrap(cls, "search", "local.search", spark=False)
    tracer.wrap(cls, "filter_mask", "local.filter", spark=False)
    tracer.wrap(cls, "_scored_topk", "local.score", spark=False)
    tracer.patch(cls, "_postings", _count_postings(tracer, cls._postings))


def _count_postings(tracer: Tracer, fn):
    """Span plus cache counters around LocalSearcher._postings."""

    @functools.wraps(fn)
    def traced(searcher, terms):
        cache = searcher._postings_cache
        wanted = set(terms)
        hits = sum(t in cache for t in wanted)
        before = len(cache)
        with tracer.span("local.postings", spark=False):
            out = fn(searcher, terms)
        c = tracer.counters
        c["postings_lookups"] += len(wanted)
        c["postings_hits"] += hits
        c["postings_evictions"] += before + len(wanted) - hits - len(cache)
        c["postings_cache_bytes"] = max(c["postings_cache_bytes"],
                                        searcher.cache_info()["postings"]["bytes"])
        return out

    return traced


def gc_seconds(spark) -> float:
    """Total GC time of the driver JVM, where local-mode executors run."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans) / 1000.0


# ------------------------------------------------------------- event log


def read_jobs(event_dir: str) -> list[dict]:
    """Jobs from Spark's JSON event log, with their tasks' metrics summed."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    scopes = {}
                    for s in e["Stage Infos"]:
                        scopes[s["Stage ID"]] = {
                            json.loads(r["Scope"])["name"].strip()
                            for r in s["RDD Info"] if r.get("Scope")}
                        scopes[s["Stage ID"]].add(s["Stage Name"].split(" at ")[0])
                    jobs[e["Job ID"]] = {
                        "id": e["Job ID"], "submit": e["Submission Time"] / 1e3,
                        "end": None, "group": props.get("spark.jobGroup.id"),
                        "callsite": props.get("callSite.short") or "",
                        "stage_scopes": scopes, "tasks": 0, "cpu_s": 0.0,
                        "input_bytes": 0, "output_bytes": 0,
                        "shuffle_write_bytes": 0,
                        "task_s": defaultdict(list)}
                    for sid in e["Stage IDs"]:
                        stage_job.setdefault(sid, e["Job ID"])
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e["Stage ID"]))
                    m = e.get("Task Metrics")
                    if job is None or not m:
                        continue
                    info = e["Task Info"]
                    job["tasks"] += 1
                    job["cpu_s"] += m["Executor CPU Time"] / 1e9
                    job["input_bytes"] += m["Input Metrics"]["Bytes Read"]
                    job["output_bytes"] += m["Output Metrics"]["Bytes Written"]
                    job["shuffle_write_bytes"] += \
                        m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job["task_s"][e["Stage ID"]].append(
                        (info["Finish Time"] - info["Launch Time"]) / 1e3)
    out = sorted(jobs.values(), key=lambda j: j["id"])
    for j in out:
        j["ran_scopes"] = set().union(
            *[j["stage_scopes"].get(s, set()) for s in j["task_s"]])
    return out


def attribute_jobs(spans: list[dict], jobs: list[dict]) -> None:
    """Set job["span"] to the span that launched it: the span named by its job
    group, or else the request running when it was submitted."""
    by_id = {s["id"]: s for s in spans}
    requests = [s for s in spans if s["parent"] is None]
    for j in jobs:
        g = j["group"] or ""
        sid = int(g[5:]) if g.startswith("span-") else None
        if sid not in by_id:
            sid = next((r["id"] for r in requests
                        if r["start"] <= j["submit"] <= r["end"]), None)
        j["span"] = sid


# ------------------------------------------------------------- span algebra


def self_time(span: dict, children: list[dict]) -> float:
    """Duration minus the part of it that child spans cover."""
    ivs = sorted((max(c["start"], span["start"]), min(c["end"], span["end"]))
                 for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"]) - covered


class Trace:
    """Index over finished spans and attributed jobs."""

    def __init__(self, spans: list[dict], jobs: list[dict]):
        self.spans = spans
        self.jobs = jobs
        self.children: dict[int, list[dict]] = defaultdict(list)
        self.by_req: dict[int, list[dict]] = defaultdict(list)
        for s in spans:
            if s["parent"] is not None:
                self.children[s["parent"]].append(s)
            if s["req"] is not None:
                self.by_req[s["req"]].append(s)
        self.jobs_of: dict[int, list[dict]] = defaultdict(list)
        for j in jobs:
            if j.get("span") is not None:
                self.jobs_of[j["span"]].append(j)

    def requests(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["parent"] is None
                and s["name"] == name]

    def within(self, req: dict, name: str) -> list[dict]:
        return [s for s in self.by_req[req["id"]] if s["name"] == name]

    def self_s(self, span: dict) -> float:
        return self_time(span, self.children[span["id"]])

    def req_jobs(self, req: dict) -> list[dict]:
        return [j for s in self.by_req[req["id"]] for j in self.jobs_of[s["id"]]]


def _per(total: float, n: int) -> float:
    return total / n if n else 0.0


def _dur(s: dict) -> float:
    return s["end"] - s["start"]


def _is_listing(job: dict) -> bool:
    # parquet file listing / schema inference: a `parallelize` RDD stage
    # launched by DataFrameReader.parquet
    return "parallelize" in job["ran_scopes"] and "parquet" in job["ran_scopes"]


def _skew(job_list: list[dict]) -> float:
    """Max over median task time of the stage with the most task time."""
    stages = [ts for j in job_list for ts in j["task_s"].values() if len(ts) > 1]
    if not stages:
        return 0.0
    heavy = max(stages, key=sum)
    med = statistics.median(heavy)
    return max(heavy) / med if med > 0 else 0.0


def build_layer_metrics(t: Trace) -> dict:
    builds = t.requests("build")
    n = len(builds)
    out = {}
    for stage in BUILD_STAGES:
        out[f"build.{stage}_s"] = _per(
            sum(t.self_s(s) for b in builds for s in t.within(b, stage)), n)
    jobs = [j for b in builds for j in t.req_jobs(b)]
    out["build.jobs"] = _per(len(jobs), n)
    out["build.tasks"] = _per(sum(j["tasks"] for j in jobs), n)
    out["build.executor_cpu_s"] = _per(sum(j["cpu_s"] for j in jobs), n)
    out["build.shuffle_write_bytes"] = _per(
        sum(j["shuffle_write_bytes"] for j in jobs), n)
    out["build.output_bytes"] = _per(sum(j["output_bytes"] for j in jobs), n)
    out["build.segment_task_max_over_median"] = _per(sum(
        _skew([j for s in t.within(b, "write_segment") for j in t.jobs_of[s["id"]]])
        for b in builds), n)
    return out


def _spark_query_jobs(t: Trace, req: dict) -> dict:
    """Split a Spark-path request's jobs into listing, dictionary, scan/score
    and resolve. Jobs the query planning launches (inside bm25_topk) are
    dictionary lookups or listings; of the jobs the final collect launches,
    those up to the last one running the Python scoring kernel scan and
    score, the ones after it resolve docids to rows."""
    jobs = sorted(t.req_jobs(req), key=lambda j: j["id"])
    planning = {s["id"] for s in t.within(req, "bm25_topk")}
    planning |= {c["id"] for s in t.within(req, "bm25_topk")
                 for c in t.children[s["id"]]}
    kinds = {}
    collect = []
    for j in jobs:
        if _is_listing(j):
            kinds[j["id"]] = "listing"
        elif j["span"] in planning:
            kinds[j["id"]] = "dictionary"
        else:
            collect.append(j)
    last_kernel = max((i for i, j in enumerate(collect)
                       if j["ran_scopes"] & _KERNEL_SCOPES), default=-1)
    for i, j in enumerate(collect):
        kinds[j["id"]] = "scan_score" if i <= last_kernel else "resolve"
    return {"jobs": jobs, "kinds": kinds}


def query_layer_metrics(t: Trace, serve_cache: dict) -> dict:
    out = {}
    # query.bm25 / docsets: the Spark path
    reqs = t.requests("spark.search")
    n = len(reqs)
    split = [_spark_query_jobs(t, r) for r in reqs]
    all_jobs = [j for s in split for j in s["jobs"]]
    out["spark.jobs_per_query"] = _per(len(all_jobs), n)
    out["spark.listing_jobs_per_query"] = _per(
        sum(k == "listing" for s in split for k in s["kinds"].values()), n)
    out["spark.tasks_per_query"] = _per(sum(j["tasks"] for j in all_jobs), n)
    out["spark.input_bytes_per_query"] = _per(
        sum(j["input_bytes"] for j in all_jobs), n)
    out["spark.shuffle_bytes_per_query"] = _per(
        sum(j["shuffle_write_bytes"] for j in all_jobs), n)
    for kind in ("dictionary", "scan_score", "resolve"):
        out[f"spark.{kind}_job_s"] = _per(sum(
            (j["end"] or j["submit"]) - j["submit"]
            for s in split for j in s["jobs"] if s["kinds"][j["id"]] == kind), n)
    out["spark.deleted_array_s"] = _per(sum(
        _dur(s) for r in reqs for s in t.within(r, "deleted_array")), n)
    fq_reqs = t.requests("spark.filtered")
    out["spark.filter_compile_s"] = _per(sum(
        _dur(s) for r in fq_reqs for s in t.within(r, "filter_docids")),
        len(fq_reqs))
    # query.local: the serving tier
    opens = [s for s in t.spans if s["name"] == "serve.open"]
    out["serve.open_s"] = statistics.median(map(_dur, opens)) if opens else 0.0
    serve = t.requests("serve")
    m = len(serve)
    for key, name in (("postings", "local.postings"), ("score", "local.score"),
                      ("filter", "local.filter")):
        out[f"serve.{key}_s"] = _per(sum(
            t.self_s(s) for r in serve for s in t.within(r, name)), m)
    out.update({f"serve.{k}": v for k, v in serve_cache.items()})
    return out


def layer_metrics(t: Trace, inputs: dict) -> dict:
    """The per-layer metrics of a traced run."""
    return {"jvm.gc_s": inputs["gc_s"],
            **build_layer_metrics(t),
            **query_layer_metrics(t, inputs["serve_cache"])}


def finish(tracer: Tracer, event_dir: str) -> Trace:
    jobs = read_jobs(event_dir)
    attribute_jobs(tracer.spans, jobs)
    return Trace(tracer.spans, jobs)


def write_trace(path: str, t: Trace, extra: dict) -> None:
    """The spans, jobs and metrics of one run as one JSON document."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    jobs = [{k: (sorted(v) if isinstance(v, set) else v)
             for k, v in j.items() if k not in ("stage_scopes", "task_s")}
            for j in t.jobs]
    with open(path, "w") as f:
        json.dump({**extra, "spans": t.spans, "jobs": jobs}, f)
