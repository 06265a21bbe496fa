"""Count the processes the driver JVM forks, from inside the JVM.

Without the native Hadoop library, Hadoop's local file system forks shell
commands (`chmod`, `readlink`) and Spark forks `rm -rf` to delete
directories; each costs milliseconds of waiting. The recording runs over
py4j and needs no package or JVM flag."""

from __future__ import annotations

import os
import tempfile
from collections import Counter


def process_starts(spark, fn) -> Counter:
    """Counter of the command lines of every process the driver JVM
    starts while ``fn()`` runs: a JFR recording with only
    jdk.ProcessStart enabled, read back with RecordingFile."""
    jvm = spark._jvm
    no_more = spark.sparkContext._gateway.new_array(jvm.String, 0)
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        fn()
    finally:
        rec.stop()
    try:
        with tempfile.TemporaryDirectory() as d:
            dump = jvm.java.nio.file.Paths.get(os.path.join(d, "rec.jfr"), no_more)
            rec.dump(dump)
            events = jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)
            return Counter(e.getString("command") for e in events)
    finally:
        rec.close()


def start_marker(spark) -> None:
    """Start one known process (`true`): a recording that counts it
    proves it sees process starts at all."""
    jvm = spark._jvm
    cmd = spark.sparkContext._gateway.new_array(jvm.String, 1)
    cmd[0] = "true"
    jvm.java.lang.ProcessBuilder(cmd).start().waitFor()


def commands(forks: Counter, name: str) -> list[str]:
    """Every recorded command line whose program is ``name``."""
    return [cmd for cmd in forks.elements() if cmd.split(" ", 1)[0] == name]
