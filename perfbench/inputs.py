"""Seeded inputs for the benchmark workloads: the same seed gives the same inputs.

* the transcript corpus: the repo's own `synth_transcripts_pandas`, with the
  vocabulary size set per workload;
* the Zipf query stream: distinct queries with fixed shares of term counts,
  `role:` filter queries and field sorts. No query repeats, so no measured
  request is answered from a query-result cache and the serving metrics do
  not rest on a guessed repeat rate.

Query terms are drawn from the corpus generator's own vocabulary, so the
stream never depends on what the program under test wrote.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from solr_spark.data import synth_transcripts_pandas
from solr_spark.data.transcripts import _vocab

# The traffic mix below is a placeholder: no query log was measured for it
# and no published figure backs it. Replace it when a source exists.
# share of queries with 1..6 terms
TERM_COUNT_SHARES = {1: 0.20, 2: 0.30, 3: 0.20, 4: 0.15, 5: 0.10, 6: 0.05}
FQ_SHARE = 0.25  # share of queries carrying a `role:` filter query
SORT_SHARE = 0.10  # share of queries sorted by a stored field
FQ_ROLES = ("assistant", "user")
SORT_SPECS = ("conv_id desc", "turn_idx asc", "dl desc")
QUERY_ZIPF_S = 1.0  # term-rank skew of the query stream (the corpus uses 1.1)


@dataclass(frozen=True)
class Query:
    text: str
    fq: tuple[str, ...] = ()
    sort: str | None = None


def corpus(n_turns: int, seed: int, n_terms: int):
    """The transcript corpus as a pandas DataFrame."""
    return synth_transcripts_pandas(n_turns, seed=seed, n_terms=n_terms)


def write_parquet(pdf, path: str, n_files: int) -> int:
    """Write `pdf` as `n_files` parquet files under `path`; returns the bytes
    written. Timestamps are stored in microseconds, which Spark reads."""
    os.makedirs(path, exist_ok=True)
    step = -(-len(pdf) // n_files)
    total = 0
    for i in range(n_files):
        part = pdf.iloc[i * step:(i + 1) * step]
        f = os.path.join(path, f"part-{i:04d}.parquet")
        pq.write_table(pa.Table.from_pandas(part, preserve_index=False), f,
                       coerce_timestamps="us")
        total += os.path.getsize(f)
    return total


def query_stream(n: int, seed: int, n_terms: int) -> list[Query]:
    """`n` distinct queries drawn Zipf-weighted from the corpus vocabulary of
    (`seed`, `n_terms`); a draw that repeats an earlier query is dropped."""
    vocab = _vocab(n_terms, np.random.default_rng(seed))
    rng = np.random.default_rng([seed, 1])
    probs = np.arange(1, n_terms + 1, dtype=np.float64) ** -QUERY_ZIPF_S
    probs /= probs.sum()
    counts = np.array(list(TERM_COUNT_SHARES))
    count_p = np.array(list(TERM_COUNT_SHARES.values()))
    out: list[Query] = []
    seen: set[tuple] = set()
    while len(out) < n:
        k = int(rng.choice(counts, p=count_p))
        terms = rng.choice(vocab, size=k, replace=False, p=probs)
        fq = ()
        if rng.random() < FQ_SHARE:
            fq = (f"role:{FQ_ROLES[int(rng.integers(len(FQ_ROLES)))]}",)
        sort = None
        if rng.random() < SORT_SHARE:
            sort = SORT_SPECS[int(rng.integers(len(SORT_SPECS)))]
        key = (tuple(sorted(terms)), fq, sort)  # term order does not matter
        if key not in seen:
            seen.add(key)
            out.append(Query(" ".join(terms), fq, sort))
    return out
