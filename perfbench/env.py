"""Pin the environment the engine reads, before anything measures.

``session.get_spark`` reads ``SPARK_GRAFT_CPUS`` (default 32 local
threads) and ``SPARK_GRAFT_DRIVER_MEM`` (default 24g) at call time; a
benchmark that inherits those defaults on a small box measures thread
oversubscription and risks the machine's memory. Everything is parsed
and validated here, up front, so a bad value fails before any
measurement instead of after it, and the values are echoed as plain
strings that cannot fail to format.
"""

from __future__ import annotations

import os
import re

_MEM_RE = re.compile(r"^(\d+)([mMgG])$")


def nproc() -> int:
    """Cores this process may run on (what ``nproc`` prints)."""
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # pragma: no cover - non-Linux
        return os.cpu_count() or 1


def box_mem_mb() -> int:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def mem_mb(value: str) -> int | None:
    """``"6g"`` -> 6144, ``"512m"`` -> 512; None for anything else."""
    m = _MEM_RE.match(value.strip())
    if not m:
        return None
    n, unit = int(m.group(1)), m.group(2).lower()
    return n * 1024 if unit == "g" else n


def driver_mem(requested: str | None, box_mb: int) -> str:
    """The requested heap if it parses and leaves a third of the box
    free; otherwise 40% of the box (at least 1g)."""
    cap = box_mb * 2 // 3
    if requested is not None:
        mb = mem_mb(requested)
        if mb is not None and 0 < mb <= cap:
            return f"{mb}m"
    return f"{max(1024, box_mb * 2 // 5)}m"


def pin(work_dir: str) -> dict[str, str]:
    """Set the engine's environment for this process and its children;
    return what was set, as strings."""
    local = os.path.join(work_dir, "spark-local")
    tmp = os.path.join(work_dir, "tmp")
    jvm_tmp = os.path.join(work_dir, "jvm-tmp")
    for d in (local, tmp, jvm_tmp):
        os.makedirs(d, exist_ok=True)
    pinned = {
        "SPARK_GRAFT_CPUS": str(nproc()),
        "SPARK_GRAFT_DRIVER_MEM": driver_mem(
            os.environ.get("SPARK_GRAFT_DRIVER_MEM"), box_mem_mb()
        ),
        "SPARK_LOCAL_DIRS": local,
        # Python-side scratch (stream checkpoints, sink outputs) and the
        # JVM's java.io.tmpdir stay inside the work directory too, apart,
        # so new files under TMPDIR are the engine's own writes.
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options -Djava.io.tmpdir={jvm_tmp} pyspark-shell",
    }
    os.environ.update(pinned)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR on next use
    return pinned
