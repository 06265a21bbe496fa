"""Process clean-up: every descendant, orphans included, is ended and reaped."""

import os
import subprocess
import sys
import textwrap
import time

import procs

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_descendants_sees_children_and_grandchildren():
    proc = subprocess.Popen(["sh", "-c", "sleep 30 & sleep 30; wait"])
    try:
        for _ in range(200):
            below = procs.descendants(proc.pid)
            if len(below) == 2:
                break
            time.sleep(0.01)
        assert len(below) == 2
        assert proc.pid in procs.descendants()
    finally:
        proc.kill()
        proc.wait()
        subprocess.run(["pkill", "-KILL", "-P", str(proc.pid)])


def test_describe_names_the_process():
    pid, name, state = procs.describe(os.getpid()).split()
    assert int(pid) == os.getpid() and name and state in "RSD"
    assert procs.describe(2**22 + 1).startswith(f"{2**22 + 1} ?")


def test_end_descendants_reaps_an_orphaned_grandchild():
    # the child starts a grandchild and exits at once, orphaning it; as a
    # subreaper the script keeps it below itself, ends it and reaps it
    script = textwrap.dedent(f"""
        import subprocess, sys, time
        sys.path.insert(0, {HERE!r})
        import procs
        assert procs.become_subreaper()
        subprocess.run(["sh", "-c", "sleep 30 &"])
        for _ in range(200):
            if procs.descendants():
                break
            time.sleep(0.01)
        found = procs.end_descendants(grace=1.0, limit=5.0)
        print(len(found), len(procs.descendants()))
    """)
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True, timeout=30)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["1", "0"]
