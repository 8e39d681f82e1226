"""Stopping the processes a run starts (no Spark)."""

from __future__ import annotations

import subprocess
import sys

from conftest import BENCH

# a child shell with a foreground grandchild, and an orphan whose parent
# exits at once (adopted by the subreaper)
SCRIPT = f"""
import os, subprocess, sys, time
sys.path.insert(0, {BENCH!r})
import host
host.become_subreaper()
p = subprocess.Popen(["sh", "-c", "(sleep 60 &); sleep 60"], stdin=subprocess.PIPE)
time.sleep(0.5)
before = host.descendants(os.getpid())
host.stop_tree(p, grace_s=0.2)
print(len(before), len(host.descendants(os.getpid())), p.poll() is not None)
"""


def test_stop_tree_ends_and_reaps_every_descendant():
    proc = subprocess.run([sys.executable, "-c", SCRIPT], capture_output=True, text=True,
                          timeout=60)
    assert proc.returncode == 0, proc.stderr
    before, after, reaped = proc.stdout.split()
    assert int(before) == 3 and int(after) == 0 and reaped == "True"
