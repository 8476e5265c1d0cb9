"""Process environment, Spark session lifetime, memory sampling and
on-disk sizes shared by the workloads."""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import threading
import time

# A 4-core, 15 GB box: one local executor slot per core and a JVM heap
# that leaves room for the Python workers and the page cache.
JVM_HEAP = "3g"
# how often the memory sampler polls /proc
RSS_POLL_S = 0.5


def prepare_env(root: str, work: str) -> None:
    """Point every scratch location of Python, the JVM and Spark's
    workers inside ``work`` and make ``atire_spark`` importable from
    ``root`` — in this process and in the Python workers Spark forks.
    Must run before pyspark is imported."""
    import sys
    import tempfile

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    if root not in sys.path:
        sys.path.insert(0, root)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ["SPARK_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    # no hsperfdata files under /tmp
    os.environ["SPARK_SUBMIT_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    tempfile.tempdir = tmp


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: str, trace: bool):
    """The engine's own session factory, sized for this box. A traced
    run also writes Spark's event log (per-stage task metrics)."""
    from atire_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "events")
        os.makedirs(log_dir, exist_ok=True)
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + log_dir
        # one plain JSON-lines file, read back when the run ends
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    spark = get_spark(cpus=cpu_count(), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None) if gw is not None else None
    return proc.pid if proc is not None else None


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _peak_rss_bytes(pid: int) -> int:
    """The kernel's high-water mark of the process's resident set."""
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _exe(pid: int) -> str | None:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return None


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


class RssSampler:
    """Peak resident memory of the Spark JVM plus every process below
    it (Spark's Python workers), polled on a background thread: at
    each poll, the sum of the high-water marks of the processes alive
    then; the figure is the largest such sum. High-water marks make it
    independent of when a poll lands within a process's life; summing
    only live processes keeps a worker that exited from being counted
    beside the one that replaced it. A child still running the JVM's
    own binary is a subprocess launch (``chmod`` and the like) caught
    between fork and exec: it shares the JVM's memory and reports the
    JVM's high-water mark, so it is left out."""

    def __init__(self, pid: int):
        self.pid = pid
        self.exe = _exe(pid)
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _poll(self) -> None:
        live = sum(
            _peak_rss_bytes(p)
            for p in process_tree(self.pid)
            if p == self.pid or _exe(p) != self.exe
        )
        self.peak = max(self.peak, live)

    def _run(self) -> None:
        while not self._stop.wait(RSS_POLL_S):
            self._poll()

    def stop(self) -> float:
        """Stop polling; the peak in MiB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self._poll()
        return self.peak / (1 << 20)


def stop_session(spark) -> None:
    """Stop Spark, end the JVM and wait until it and every process it
    started (Python workers) have exited."""
    from pyspark import SparkContext

    pid = jvm_pid()
    tree = process_tree(pid) if pid is not None else []
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = gw.proc
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline and any(_alive(p) for p in tree):
        time.sleep(0.1)
    for p in tree:
        if _alive(p):
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


def data_files(path: str) -> list[str]:
    """Parquet part files under ``path`` (Spark's checksum and marker
    files are not index data)."""
    out = []
    for base, _dirs, files in os.walk(path):
        out.extend(
            os.path.join(base, f) for f in files if f.endswith(".parquet")
        )
    return out


def parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in data_files(path))


def stage_parquet(pdf, path: str) -> None:
    """Write a generated pandas frame as the parquet corpus the engine
    reads (microsecond timestamps, like Spark's own writer)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pdf.to_parquet(
        path, index=False, coerce_timestamps="us", allow_truncated_timestamps=True
    )


def remove_stale_runs(base: str) -> None:
    """Delete the scratch directories of earlier runs that no longer
    exist (a killed run cannot clean up after itself)."""
    if not os.path.isdir(base):
        return
    for name in os.listdir(base):
        pid = name[4:]
        if name.startswith("run-") and pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(os.path.join(base, name), ignore_errors=True)
