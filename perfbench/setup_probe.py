"""Time the set-up a user pays in a fresh process: ``session.get_spark()``
then ``registry.all_queries()``, and the share of the guest's CPU time
stolen meanwhile (``observe.stolen_share``). Prints one JSON line. Run by
``run.py`` with the pinned environment; expects the repository root on
argv[1]."""

from __future__ import annotations

import json
import sys
import time

import observe
import procs


def timed_setup(app_name: str):
    """(spark, queries, {"get_spark_s", "registry_s", "stolen_share"})
    for this process."""
    from dpu_olap_spark import registry, session

    host0 = observe.host_ticks()
    t0 = time.perf_counter()
    spark = session.get_spark(app_name)
    t1 = time.perf_counter()
    queries = registry.all_queries()
    t2 = time.perf_counter()
    stolen = observe.stolen_share(host0, observe.host_ticks())
    return spark, queries, {"get_spark_s": t1 - t0, "registry_s": t2 - t1, "stolen_share": stolen}


if __name__ == "__main__":
    sys.path.insert(0, sys.argv[1])
    spark, _, sample = timed_setup("perfbench-setup-probe")
    procs.stop_spark(spark)
    print(json.dumps(sample))
