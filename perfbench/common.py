"""Shared plumbing: checkout paths, the Spark session, timers and stats.

Everything the benchmark writes lives under ``.perfbench/`` in the
checkout (input cache, Spark scratch, result files), so a run never
touches anything outside the directory it was started from.
"""

from __future__ import annotations

import gc
import json
import os
import resource
import statistics
import subprocess
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
QUERYSET = os.path.join(ROOT, "fixtures", "queryset.json")
PACKAGE = os.path.join(ROOT, "elasticsearch_spark")
ALL_CPUS = frozenset(os.sched_getaffinity(0))


def nproc() -> int:
    """CPUs this process may run on (what ``nproc`` prints)."""
    return len(ALL_CPUS)


def checkout_ok() -> bool:
    """The benchmark builds the program from the checkout's sources."""
    return os.path.isfile(os.path.join(PACKAGE, "__init__.py")) and os.path.isfile(QUERYSET)


def use_checkout_env() -> None:
    """Point temp files, Spark scratch and the Python workers' import
    path at the checkout.  Call before pyspark starts a JVM."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    import tempfile

    tempfile.tempdir = tmp


def start_spark(app: str):
    """``local[nproc]`` with shuffle partitions = nproc (one client)."""
    from elasticsearch_spark.session import get_spark

    n = nproc()
    tmp = os.environ["TMPDIR"]
    spark = get_spark(
        app, master=f"local[{n}]", shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "3g",
            "spark.local.dir": tmp,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job's record for the traced run's job counts
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def pin_client(k: int) -> None:
    """Move the calling thread to the ``k``-th allowed CPU (mod nproc).

    This host's vCPUs run at different speeds (a pinned pure-Python loop
    measured 0.37-0.65 s per slice depending on the CPU), and a thread
    stays where the scheduler first put it.  Left alone, a run's
    driver-side latency depends on that one placement and run medians
    split into a fast and a slow group ~40% apart.  The measured loops
    therefore visit every CPU in turn.

    Only the calling thread is meant to move.  A thread started while it
    is pinned (a pyarrow pool worker, say) inherits its one-CPU mask, so
    every other thread of the process is given all CPUs back here and in
    ``unpin_client``; ``NARROWED`` counts the threads found narrowed."""
    cpus = sorted(ALL_CPUS)
    os.sched_setaffinity(0, {cpus[k % len(cpus)]})
    _free_other_threads()


def unpin_client() -> None:
    os.sched_setaffinity(0, ALL_CPUS)
    _free_other_threads()


NARROWED = [0]


def _free_other_threads() -> None:
    me = threading.get_native_id()
    for tid in os.listdir("/proc/self/task"):
        tid = int(tid)
        if tid == me:
            continue
        try:
            if os.sched_getaffinity(tid) != ALL_CPUS:
                NARROWED[0] += 1
                os.sched_setaffinity(tid, ALL_CPUS)
        except OSError:  # the thread has ended
            pass


def pool_map(fn, items: list, initializer=None, initargs=()) -> list:
    """``map`` over nproc spawned worker processes, ended before return,
    together with the resource-tracker process the pool starts."""
    import multiprocessing as mp
    from multiprocessing import resource_tracker

    pool = mp.get_context("spawn").Pool(min(nproc(), max(1, len(items))), initializer, initargs)
    try:
        return pool.map(fn, items, chunksize=max(1, len(items) // (4 * nproc())))
    finally:
        pool.close()
        pool.join()
        # unlink the pool's semaphores before their tracker goes
        del pool
        gc.collect()
        resource_tracker._resource_tracker._stop()


PR_SET_CHILD_SUBREAPER = 36


def become_reaper() -> None:
    """Adopt the orphans of this process's children.

    pyspark's Python worker daemon is a child of the JVM, and the JVM of
    the input generator is a grandchild; when their parents end they
    would pass to init and outlive the run.  As a child subreaper this
    process inherits them instead, so ``end_children`` can stop them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _children() -> list:
    """Pids whose parent is this process, zombies included."""
    me = os.getpid()
    out = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit():
            continue
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:  # it has ended
            continue
        # the parent pid is the 2nd field after the ")" closing the name
        if int(stat.rsplit(")", 1)[1].split()[1]) == me:
            out.append(int(pid))
    return out


def end_children(grace: float = 10.0) -> int:
    """Stop and reap every child process, and every orphan passed to
    this process while doing so: SIGTERM first, SIGKILL after ``grace``
    seconds.  Returns how many were still running."""
    import signal

    first_seen = {}
    while True:
        live = []
        for pid in _children():
            try:
                done, _status = os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                continue
            if not done:
                live.append(pid)
        if not live:
            return len(first_seen)
        t = time.monotonic()
        for pid in live:
            try:
                if pid not in first_seen:
                    first_seen[pid] = t
                    os.kill(pid, signal.SIGTERM)
                elif t - first_seen[pid] > grace:
                    os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def now() -> float:
    return time.perf_counter()


def peak_rss_mb() -> float:
    """Peak resident set of this Python process (MB)."""
    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(ms: list) -> tuple:
    """(percentile, value): the highest of p99/p95/p90/p75/p50 with at
    least ten samples beyond it."""
    import numpy as np

    for p in (99, 95, 90, 75):
        if len(ms) * (100 - p) / 100.0 >= 10:
            return p, float(np.percentile(ms, p))
    return 50, median(ms)


def load_queries() -> list:
    with open(QUERYSET) as f:
        return json.load(f)["queries"]


def tree_bytes(path: str) -> tuple:
    """(bytes, files) under ``path``."""
    total = files = 0
    for r, _d, fs in os.walk(path):
        for fn in fs:
            total += os.path.getsize(os.path.join(r, fn))
            files += 1
    return total, files


INDEX_PARTS = ("postings", "blocks", "dictionary", "tokens", "segments")


def index_sizes(index_dir: str) -> dict:
    """On-disk bytes per index table plus the total and file count."""
    out = {}
    for part in INDEX_PARTS:
        out[part] = tree_bytes(os.path.join(index_dir, part))[0]
    out["total"], out["files"] = tree_bytes(index_dir)
    return out
