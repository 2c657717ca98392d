"""The write path survives a real process kill at every commit step.

A subprocess writer runs a driver-placed `close` or `compact` on a copy
of a store and is SIGKILLed (its `os.rename` patched to kill it) at
each step of the commit:

  segment staged    the segment file is written under its hidden
                    staging name, not yet renamed;
  segment renamed   the segment file is in `segments/`, no manifest row
                    commits it;
  manifest staged   the manifest rows are written under their hidden
                    staging name, not yet renamed;
  manifest renamed  the commit is complete.

This process then reopens the store, runs `vacuum()` (which must leave
no staging file behind), repeats the write, and requires every source
row exactly once."""

import os
import shutil
import signal
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from columnstore_spark.sources.storage import STAGING_PREFIX
from columnstore_spark.store import TranscriptColumnStore

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# the writer: open the store at argv[1], kill this process at the
# argv[3]-th os.rename (before it when argv[4] is "before", after it
# otherwise) and run the store method argv[2]; exit 3 if never killed
WRITER = r"""
import os, signal, sys

from columnstore_spark.session import get_spark
from columnstore_spark.store import TranscriptColumnStore

root, op, nth, when = sys.argv[1], sys.argv[2], int(sys.argv[3]), sys.argv[4]
spark = get_spark(app="crash-writer", master="local[1]",
                  shuffle_partitions=1)
spark.sparkContext.setLogLevel("ERROR")
store = TranscriptColumnStore(spark, root, num_rowgroups=2)
rename, calls = os.rename, []


def killing_rename(src, dst):
    calls.append(dst)
    if len(calls) == nth and when == "before":
        os.kill(os.getpid(), signal.SIGKILL)
    rename(src, dst)
    if len(calls) == nth:
        os.kill(os.getpid(), signal.SIGKILL)


os.rename = killing_rename
getattr(store, op)()
sys.exit(3)
"""

# step -> (os.rename call, kill before or after it)
STEPS = {"segment staged": (1, "before"), "segment renamed": (1, "after"),
         "manifest staged": (2, "before"), "manifest renamed": (2, "after")}


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _staging(root):
    return [os.path.join(d, n) for d, dirs, names in os.walk(root)
            for n in names + dirs if n.startswith(STAGING_PREFIX)]


@pytest.fixture(scope="module")
def templates(spark, tmp_path_factory, transcripts):
    """Two stores built here: `close` (one closed batch, one pending)
    and `compact` (two closed batches of under-filled rowgroups)."""
    t = transcripts
    base = tmp_path_factory.mktemp("crash")
    out = {}
    for op in ("close", "compact"):
        s = TranscriptColumnStore(spark, str(base / op), num_rowgroups=2)
        s.add_range(t.where(F.col("turn_idx") % 2 == 0))
        s.close()
        s.add_range(t.where(F.col("turn_idx") % 2 == 1))
        if op == "compact":
            s.close()
        out[op] = str(base / op)
    return out


def test_kill_at_every_commit_step(spark, tmp_path, transcripts, templates):
    cases = [(op, step) for op in ("close", "compact") for step in STEPS]
    env = dict(os.environ, SPARK_DRIVER_MEMORY="1g",
               PYTHONPATH=os.pathsep.join(
                   p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    roots, procs = {}, {}
    # four writers at a time: each starts a JVM
    for wave in (cases[:4], cases[4:]):
        for op, step in wave:
            root = str(tmp_path / f"{op}-{step.replace(' ', '-')}")
            shutil.copytree(templates[op], root)
            roots[op, step] = root
            nth, when = STEPS[step]
            procs[op, step] = subprocess.Popen(
                [sys.executable, "-c", WRITER, root, op, str(nth), when],
                cwd=ROOT, env=env, stdout=subprocess.DEVNULL,
                stderr=subprocess.DEVNULL)
        for case in wave:
            assert procs[case].wait(timeout=300) == -signal.SIGKILL, case

    want = _rows(transcripts)
    for (op, step), root in roots.items():
        s = TranscriptColumnStore(spark, root, num_rowgroups=2)
        staged = _staging(root)
        assert bool(staged) == step.endswith("staged"), (op, step, staged)
        removed = s.vacuum()
        assert set(staged) <= set(removed["segment_files"]), (op, step)
        assert _staging(root) == [], (op, step)
        # a kill before the manifest rename left the write undone
        done = step == "manifest renamed"
        assert bool(s._pending_batches()) == (op == "close" and not done)
        getattr(s, op)()
        assert not s._pending_batches()
        assert _rows(s.rows()) == want, (op, step)
