"""The benchmark's workloads.

Each workload is a fixed list of registered queries from ``bench.py``'s
HEADLINE set, run as a closed loop by one client thread over inputs
generated from the seed (``gen.py``). ``interactive`` takes queries whose
``build()`` starts no stream and writes no files, ``streaming`` takes
queries whose ``build()`` does one or the other. Every run observes this
while checking results (``run.check_pass``), and a query whose observed
class does not match its workload counts as failed. The lists are a
cross-section of each class, kept short so that a run, set-up and
checks included, stays near a minute.

``min_execs`` is the fewest executions a run measures; it fixes the
workload's tail percentile (``stats.tail_percentile``). Each list has an
odd length and ``min_execs`` is a multiple of it, so that the median and
the tail fall inside one query's executions rather than between two
queries' latencies, which would make them jump from run to run.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    classes: tuple[str, ...]  # observed build() classes the queries must have
    queries: tuple[str, ...]
    min_execs: int


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            "interactive",
            ("batch",),
            (
                # reference core
                "filter", "join", "sum",
                # relational, TPC-H
                "window_rank", "tpch_q6", "tpch_q3",
                # Spark-4 surface
                "param_sql",
                # LLM curation / similarity / text / chunking
                "token_hist", "chunk_documents", "ann_lsh", "pandas_udaf",
            ),
            33,
        ),
        Workload(
            "streaming",
            ("stream", "files"),
            (
                # a stateful RocksDB aggregation through the memory sink, a
                # state-store reader that runs a stream first, and a file
                # sink that writes on every build (pq_search, also observed
                # writing files, writes its index once per process only)
                "rocksdb_state_agg", "statestore_read", "sink_zorder",
            ),
            24,
        ),
    )
}
