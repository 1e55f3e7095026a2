"""The benchmark workloads. Each is a closed loop: one client in one process
sends its next operation only after the previous one returned.

Both workloads run the same phases, so each measures every end-to-end
metric: a timed `build_index` of a fresh corpus, then its index queried
through the Spark path and `LocalSearcher`. They differ in the corpus and
the serving cache:

* `build`: a 100k-term vocabulary, which makes the build's segment and
  dictionary writes heavier and the postings sparse; the serving postings
  cache holds every decoded posting, so it never evicts.
* `query`: a 5k-term vocabulary, so postings are dense; the serving postings
  cache holds a quarter of them, so it evicts.

`WORKLOADS[name](run)` returns the end-to-end metrics by name, and leaves in
`run.layer_inputs` what the per-layer metrics need beyond the trace.
"""

from __future__ import annotations

import functools
import os
import statistics
import sys
import time
import traceback
from contextlib import contextmanager

from perfbench import checks, inputs
from perfbench import trace as T

# Sizes, scaled from the paper-scale targets (400k-turn build, 300k-turn query
# index) so that a run takes under a minute on a 4-core host. range_shift=10
# (1024-docid ranges) gives 5k turns 5 docid ranges, about what 300k-400k
# turns have with the default 65536-docid ranges. With the 64 default term
# buckets the per-file cost of the small files dominated every phase (at 10k
# turns 8 buckets cut one run's phases from 95 s to 53 s). 5k turns instead of
# 10k took about 2 s off the build.
RANGE_SHIFT = 10
TERM_BUCKETS = 8
N_TURNS = 5_000
BUILD_TERMS = 100_000
QUERY_TERMS = 5_000
STREAM_LEN = 2_000
# serving postings cache as a share of the index's decoded postings. At 300k
# turns the default 256 MiB cache holds about two thirds of the ~375 MiB of
# decoded postings; one run's short stream touches under half of them, so a
# quarter keeps the cache evicting within a run. Twice the decoded postings
# leaves room for the cache's own accounting, so nothing is evicted.
EVICTING_CACHE_SHARE = 0.25
FITTING_CACHE_SHARE = 2.0
DECODED_BYTES_PER_POSTING = 16  # int64 docid offset + float64 tf
SETUP_REPS = 3
# the Spark path runs for the measured seconds, at least SPARK_MIN requests
SPARK_MIN = 10
# untimed plain requests first. The JIT is still compiling the query path
# after the build: with one warm-up request the first timed ones ran about
# 20% slower than the rest, and the medians spread 0.28-0.41 over ten seeds
SPARK_WARM = 4
# the serving phase sends a fixed number of requests instead, so every run
# of a seed serves the same queries; a time-bounded phase would reach further
# into the stream, and touch other postings, on a faster run
SERVE_REQUESTS = 600
K = 10


class Run:
    """One benchmark run: Spark session, tracer, scratch dir and op counts."""

    def __init__(self, spark, tracer: T.Tracer, work: str, seed: int,
                 seconds: float, parts: int):
        self.spark = spark
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.parts = parts
        self.attempted = 0
        self.failed = 0
        self.meta: dict = {}
        # what the per-layer metrics need beyond the trace (traced runs)
        self.layer_inputs: dict = {}

    def op(self, fn, *a, **kw):
        """Run one operation; an exception counts as a failed operation and
        returns None."""
        self.attempted += 1
        try:
            return fn(*a, **kw)
        except Exception:
            self.failed += 1
            traceback.print_exc()
            return None

    def check(self, problems: list[str]) -> None:
        """Count a correctness check; any problem fails it."""
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems[:5]:
                print(f"check failed: {p}", file=sys.stderr)

    @contextmanager
    def phase(self, name: str):
        """Record the wall seconds of one phase of the run in its metadata."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.meta.setdefault("phase_s", {})[name] = round(
                time.perf_counter() - t0, 2)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def _config():
    from solr_spark.config import IndexConfig

    return IndexConfig(range_shift=RANGE_SHIFT, num_term_buckets=TERM_BUCKETS)


def _ms(xs: list[float]) -> float:
    return statistics.median(xs) * 1e3


def _p90_ms(xs: list[float]) -> float:
    # at least ten samples beyond it needs 100
    if len(xs) < 100:
        raise RuntimeError(f"p90 needs 100 samples, got {len(xs)}")
    return statistics.quantiles(xs, n=10)[-1] * 1e3


def _reset_peak_rss() -> None:
    """Start a new peak-RSS window (Linux resets VmHWM to the current RSS), so
    the peak leaves out set-up work such as corpus generation."""
    with open("/proc/self/clear_refs", "w") as f:
        f.write("5")


def _peak_rss_mb() -> float:
    """Peak RSS of this process since the last `_reset_peak_rss`."""
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM line in /proc/self/status")


def _build(run: Run, source, index_dir: str, token: str) -> dict:
    from solr_spark.indexing import build as B

    return B.build_index(run.spark, source, index_dir, _config(),
                             input_token=token, num_partitions=run.parts,
                             stored_cols=("role",))


class Tiers:
    """The opened query tiers over one index: the Spark-path reader and the
    serving searcher."""

    def __init__(self, run: Run, index_dir: str, cache_bytes: int):
        from solr_spark.query.bm25 import IndexReader
        from solr_spark.query.local import LocalSearcher

        self.reader = IndexReader.open(index_dir).warm(run.spark)
        with run.tracer.span("serve.open", spark=False):
            self.local = LocalSearcher(self.reader, cache_bytes=cache_bytes)

    def close(self, spark) -> None:
        self.reader.close(spark)


def _spark_rows(spark, reader, q: inputs.Query) -> list[dict]:
    from solr_spark.query import bm25

    df = bm25.bm25_topk(spark, reader, q.text, k=K, mode="wand",
                        filters=list(q.fq) or None)
    return [r.asDict() for r in df.collect()]


def _serve_rows(searcher, q: inputs.Query) -> list[dict]:
    return searcher.search(q.text, k=K, filters=list(q.fq) or None,
                           sort=q.sort)


def _timed_loop(run: Run, seconds: float, items, call, name_of, spark=True,
                at_least: int = 1) -> list[tuple]:
    """Call `call(item)` for successive items until `seconds` have passed and
    `at_least` calls were made (seconds 0: exactly `at_least` calls); returns
    (item, seconds, rows) per successful call."""
    out = []
    deadline = time.perf_counter() + seconds
    for n, item in enumerate(items):
        if n >= at_least and time.perf_counter() >= deadline:
            break
        t0 = time.perf_counter()
        with run.tracer.request(name_of(item), spark=spark):
            rows = run.op(call, item)
        dt = time.perf_counter() - t0
        if rows is not None:
            out.append((item, dt, rows))
    return out


def _cache_ratios(counters_before, counters_after, info: dict) -> dict:
    d = {k: counters_after[k] - counters_before[k]
         for k in ("postings_lookups", "postings_hits", "postings_evictions")}

    def ratio(hits, misses):
        return hits / (hits + misses) if hits + misses else 0.0

    return {
        "postings_hit_ratio": ratio(d["postings_hits"],
                                    d["postings_lookups"] - d["postings_hits"]),
        "postings_evictions": d["postings_evictions"],
        "postings_cache_bytes": counters_after["postings_cache_bytes"],
        "filter_hit_ratio": ratio(info["filter"]["hits"],
                                  info["filter"]["misses"]),
    }


def _workload(run: Run, n_terms: int, cache_share: float) -> dict:
    import pyarrow.parquet as pq

    from solr_spark.indexing.lifecycle import dir_bytes

    spark = run.spark
    index_dir = run.path("index")
    with run.phase("input"):
        input_bytes = inputs.write_parquet(
            inputs.corpus(N_TURNS, run.seed, n_terms), run.path("corpus"),
            run.parts)
        source = spark.read.parquet(run.path("corpus"))
    # the first build of the process, so it also pays for warming the JVM and
    # starting the Python workers: an untimed warm-up build took 15-22 s, and
    # the run has no room for it
    gc0 = T.gc_seconds(spark)
    with run.phase("build"):
        t0 = time.perf_counter()
        with run.tracer.request("build"):
            stats = run.op(_build, run, source, index_dir, "build")
        build_s = time.perf_counter() - t0
    if stats is None:
        raise RuntimeError("the build failed")
    run.check(checks.build_stats(stats, N_TURNS))
    index_bytes = dir_bytes(index_dir)
    postings = int(pq.read_table(os.path.join(index_dir, "dictionary"),
                                 columns=["df"])["df"].to_numpy().sum())
    cache_bytes = int(cache_share * DECODED_BYTES_PER_POSTING * postings)
    run.meta["decoded_postings_bytes"] = DECODED_BYTES_PER_POSTING * postings
    run.meta["cache_bytes"] = cache_bytes
    stream = inputs.query_stream(STREAM_LEN, run.seed, n_terms)

    # set-up: open the tiers several times, keep the last
    setup = []
    with run.phase("setup"):
        for rep in range(SETUP_REPS):
            t0 = time.perf_counter()
            opened = Tiers(run, index_dir, cache_bytes)
            setup.append(time.perf_counter() - t0)
            if rep < SETUP_REPS - 1:
                opened.close(spark)
        tiers = opened
    _reset_peak_rss()
    # untimed, and checked against the serving tier below: one filtered
    # request. With SPARK_WARM plain requests after it, it also warms the
    # Spark path
    fq_query = next(q for q in stream if q.sort is None and q.fq)
    with run.tracer.request("spark.filtered"):
        fq_rows = run.op(_spark_rows, spark, tiers.reader, fq_query)
    for q in stream[-SPARK_WARM:]:  # queries no timed request repeats
        _spark_rows(spark, tiers.reader, inputs.Query(q.text))

    # timed: plain ranked requests. Filtered ones ran about 1.6 times as
    # long; in one median with plain ones they only moved its rank
    with run.phase("spark"):
        spark_runs = _timed_loop(
            run, run.seconds,
            (q for q in stream if q.sort is None and not q.fq),
            lambda q: _spark_rows(spark, tiers.reader, q),
            lambda q: "spark.search",
            at_least=SPARK_MIN)
    c0 = run.tracer.counters.copy()
    with run.phase("serve"):
        serve_runs = _timed_loop(run, 0.0, stream,
                                 lambda q: _serve_rows(tiers.local, q),
                                 lambda q: "serve", spark=False,
                                 at_least=SERVE_REQUESTS)
    serve_cache = _cache_ratios(c0, run.tracer.counters,
                                tiers.local.cache_info())

    # tier agreement on every Spark-path result, outside the timing
    with run.phase("check"):
        checked = [(q, rows) for q, _, rows in spark_runs]
        if fq_rows is not None:
            checked.append((fq_query, fq_rows))
        for q, rows in checked:
            run.check(checks.same_rows(rows, _serve_rows(tiers.local, q),
                                       f"spark vs local {q}"))

    tiers.close(spark)
    run.layer_inputs.update(gc_s=T.gc_seconds(spark) - gc0,
                            serve_cache=serve_cache)

    serve_s = [dt for _, dt, _ in serve_runs]
    # the tail is run metadata, not a metric: over five seeds its spread
    # followed host load past the 0.25 bound
    run.meta.update(spark_ms=[round(dt * 1e3) for _, dt, _ in spark_runs],
                    setup_ms=[round(x * 1e3) for x in setup],
                    serve_queries=len(serve_s),
                    serve_p90_ms=round(_p90_ms(serve_s), 3))
    return {
        "setup_s": statistics.median(setup),
        "build_turns_per_s": N_TURNS / build_s,
        "index_bytes_per_input_byte": index_bytes / input_bytes,
        "spark_p50_ms": _ms([dt for _, dt, _ in spark_runs]),
        "serve_p50_ms": _ms(serve_s),
        "driver_rss_mb": _peak_rss_mb(),
    }


WORKLOADS = {
    "build": functools.partial(_workload, n_terms=BUILD_TERMS,
                               cache_share=FITTING_CACHE_SHARE),
    "query": functools.partial(_workload, n_terms=QUERY_TERMS,
                               cache_share=EVICTING_CACHE_SHARE),
}
