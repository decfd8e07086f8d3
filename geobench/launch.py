"""Process set-up for one benchmark run: paths, environment, the Spark
session and the RSS sampler.

All session configuration lives in :func:`start_session`; the benchmark reads
no environment variables. Everything a run writes goes under the run's work
directory inside the checkout (``.bench_build/``), which is removed at exit.
"""

from __future__ import annotations

import os
import shutil
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DRIVER_MEMORY = "1g"


def prepare(run_tag: str) -> str:
    """Check the engine sources are present, point the Spark Python workers
    and every temp directory into the checkout, and return the work dir."""
    if not os.path.isfile(os.path.join(ROOT, "countrymaam_spark", "__init__.py")):
        raise SystemExit(f"countrymaam_spark/ not found under {ROOT}: run from a full checkout")
    work = os.path.join(ROOT, ".bench_build", f"geobench-{run_tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "events"):
        os.makedirs(os.path.join(work, sub))
    # the engine's session factory reads these; the benchmark's session
    # config is the one in start_session, whatever the caller's environment
    for knob in [k for k in os.environ if k.startswith("SPARK_GRAFT_")] + ["SPARK_DRIVER_MEM"]:
        os.environ.pop(knob, None)
    # Python workers are started by the JVM, which inherits this
    # environment: without PYTHONPATH they cannot import countrymaam_spark
    # when the benchmark is launched from outside the repository root
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def start_session(work: str, trace: bool):
    """The benchmark's SparkSession: ``local[nproc]``, one place for config.

    Tracing turns on Spark's event log (one JSON event per job, stage and
    task) into the run's work directory."""
    from countrymaam_spark.session import get_spark

    ncpu = len(os.sched_getaffinity(0))  # what nproc reports
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "events")
        conf["spark.eventLog.rolling.enabled"] = "false"  # one file, in order
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(
        master=f"local[{ncpu}]",
        app_name="geobench",
        shuffle_partitions=ncpu,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM, and wait until the JVM and every
    Python worker it forked have exited."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    SparkContext._gateway = SparkContext._jvm = None
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the JVM exits when its stdin closes
    proc.wait(timeout_s)
    deadline = time.monotonic() + timeout_s
    while _descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _descendants(root_pid: int) -> list[int]:
    """Pids of every descendant of ``root_pid``, read from /proc (psutil is
    not available): the JVM the driver launched and the Python workers the
    JVM forked."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # field 4 (ppid) follows the parenthesised command name
        children.setdefault(int(stat.rsplit(")", 1)[1].split()[1]), []).append(int(name))
    found, stack = [], list(children.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        found.append(pid)
        stack.extend(children.get(pid, ()))
    return found


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split among
    the processes sharing it. Summing RSS instead would count a forked
    Python worker's pages shared with its daemon, or a JVM child between
    fork and exec, once per process."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass  # exited
    return 0


class RssSampler:
    """Background thread tracking the peak resident memory (PSS) of this
    process and its descendants."""

    def __init__(self, interval_s: float = 1.0):  # a PSS read of the JVM takes ~30 ms
        self.interval_s = interval_s
        self.peak_bytes = 0
        self.peak_procs = 0  # processes in the tree at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            pids = [me, *_descendants(me)]
            total = sum(_pss_bytes(p) for p in pids)
            if total > self.peak_bytes:
                self.peak_bytes, self.peak_procs = total, len(pids)
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
