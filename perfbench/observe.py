"""Read Spark's own counters from outside the engine.

Four sources, none of which needs a change to the engine:
- ``StreamEvents``: a Python ``StreamingQueryListener`` that keeps one
  record per stream start and per micro-batch progress event;
- ``SparkRest``: the driver's local UI REST API (jobs, stages, SQL
  executions);
- ``jvm_peak_rss_mb``: the driver JVM's high-water resident set;
- ``host_ticks``: the guest's busy and stolen CPU time, from
  ``/proc/stat``.
"""

from __future__ import annotations

import json
import threading
import time
import urllib.request

from pyspark.sql.streaming.listener import StreamingQueryListener

# SQL plan nodes that write files (the noop sink plans OverwriteByExpression
# and a memory sink WriteToDataSourceV2; neither is a file write).
FILE_WRITE_NODES = ("WriteFiles", "Execute InsertIntoHadoopFsRelationCommand")


class StreamEvents(StreamingQueryListener):
    """Records stream starts and micro-batch progress as plain dicts.

    Spark delivers progress events asynchronously on the listener bus, so
    each record carries its arrival time; ``owner`` is whatever label the
    caller set before starting the work (a query name), read at arrival.
    Start events are delivered synchronously with ``start()``."""

    def __init__(self) -> None:
        self.lock = threading.Lock()
        self.owner: str | None = None
        self.started: list[dict] = []
        self.progress: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802 - Spark API
        with self.lock:
            self.started.append({"owner": self.owner, "run_id": str(event.runId), "t": time.time()})

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        ops = list(p.stateOperators or [])
        rec = {
            "owner": self.owner,
            "run_id": str(p.runId),
            "t": time.time(),
            "input_rows": int(p.numInputRows),
            "duration_ms": {k: int(v) for k, v in dict(p.durationMs or {}).items()},
            "state_rows": sum(int(s.numRowsTotal) for s in ops),
            "state_commit_ms": sum(int(s.commitTimeMs) for s in ops),
        }
        with self.lock:
            self.progress.append(rec)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def settle(self, quiet_s: float = 0.5, limit_s: float = 10.0) -> None:
        """Wait until no progress event has arrived for ``quiet_s``."""
        deadline = time.time() + limit_s
        last = -1
        while time.time() < deadline:
            with self.lock:
                n = len(self.progress)
            if n == last:
                return
            last = n
            time.sleep(quiet_s)


class SparkRest:
    """Client of the driver's UI REST API (``/api/v1/applications/<id>``)."""

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as resp:
            return json.load(resp)

    def jobs(self) -> list[dict]:
        return self.get("jobs")

    def stages(self) -> list[dict]:
        return self.get("stages")

    def sql(self) -> list[dict]:
        return self.get("sql?details=true&planDescription=false&offset=0&length=100000")


def wait_for_jobs(rest: SparkRest, job_ids: set[int], limit_s: float = 10.0) -> list[dict]:
    """Jobs as the REST API lists them, once every id in ``job_ids`` is
    there and finished (the UI store is fed by the async listener bus)."""
    deadline = time.time() + limit_s
    while True:
        jobs = rest.jobs()
        done = {j["jobId"] for j in jobs if j["status"] != "RUNNING"}
        if job_ids <= done or time.time() > deadline:
            return jobs
        time.sleep(0.2)


def writes_files(execution: dict) -> bool:
    return any(n["nodeName"] in FILE_WRITE_NODES for n in execution.get("nodes", ()))


def jvm_peak_rss_mb(spark) -> float:
    """VmHWM of the driver JVM (which in local mode is also the executor)."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def host_ticks() -> tuple[int, int]:
    """(busy, stolen) clock ticks summed over the guest's CPUs since boot,
    from the first line of ``/proc/stat``: busy is user + nice + system +
    irq + softirq, stolen is the time the hypervisor ran something else
    while a virtual CPU had work."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:9]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def stolen_share(before: tuple[int, int], after: tuple[int, int]) -> float:
    """Share of the CPU time the guest's CPUs wanted between two
    ``host_ticks`` readings that the hypervisor gave to other guests."""
    busy, stolen = after[0] - before[0], after[1] - before[1]
    return stolen / (busy + stolen) if busy + stolen > 0 else 0.0
