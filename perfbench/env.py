"""Process set-up for a benchmark run: where it writes, the Spark session
it builds, the host facts it records, the peak-RSS sampler, and the
Spark status-store reads that the tracer attributes jobs with."""

from __future__ import annotations

import os
import platform
import shutil
import threading
import time

from .metrics import JobStats

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
# generated corpora and oracle answers, kept between runs of one checkout
CACHE_DIR = os.path.join(BENCH_DIR, ".cache")
# per-run working files: catalogs, Spark local dirs, temp files
WORK_DIR = os.path.join(BENCH_DIR, ".work")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_bytes() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) * 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_memory_mb() -> int:
    """An eighth of the host's RAM, at least 1 GiB: the workloads' data
    is small, and a heap the runs fill keeps peak RSS steady."""
    return max(1024, int(mem_total_bytes() / 8) >> 20)


def prepare_dirs() -> None:
    """Point every place the run writes at the checkout: Spark local
    dirs, temp files, and the native fingerprint's compile cache.  Must
    run before the JVM starts, since it and the workers inherit this
    env."""
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    for sub in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK_DIR, sub), exist_ok=True)
    os.makedirs(CACHE_DIR, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK_DIR, "tmp")
    os.environ["XDG_CACHE_HOME"] = os.path.join(CACHE_DIR, "xdg")
    # the JVMs would otherwise drop perf-data files in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def build_spark(cores: int):
    from pyspark.sql import SparkSession

    tmp = os.path.join(WORK_DIR, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("newscrawl-perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", f"{driver_memory_mb()}m")
        .config("spark.sql.warehouse.dir", os.path.join(WORK_DIR, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            # a fixed-size heap: RSS does not hinge on when G1 grows it
            f"-Xms{driver_memory_mb()}m -XX:-UsePerfData"
            f" -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
        )
        # the tracer attributes jobs after the run: keep every one
        .config("spark.ui.retainedJobs", "1000000")
        .config("spark.ui.retainedStages", "1000000")
        .config("spark.sql.ui.retainedExecutions", "1000")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _fs_of(path: str) -> str:
    """Filesystem type of the mount holding ``path``."""
    path = os.path.realpath(path)
    best, fstype = "", "?"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, typ = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) > len(best):
                best, fstype = mnt, typ
    return fstype


def host_facts(spark) -> dict:
    import duckdb
    import pyarrow

    from newscrawl import _fp_native

    return {
        "nproc": nproc(),
        "mem_total_mb": mem_total_bytes() >> 20,
        "driver_memory_mb": driver_memory_mb(),
        "python": platform.python_version(),
        "spark": spark.version,
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "native_fingerprint": bool(_fp_native._load()),
        "work_dir": os.path.relpath(WORK_DIR, ROOT),
        "work_fs": _fs_of(WORK_DIR),
        "spark_local_dirs": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT),
    }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(root_pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root_pid, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_bytes(root_pid: int) -> int:
    """Resident memory of ``root_pid`` and all its descendants: the
    Python driver, the JVM it launched, and the JVM's Python workers.
    Summed as PSS, so the pages forked workers share count once; a sum
    of plain RSS jumped by 2.6 GB with the number of workers forked."""
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


def wait_gone(pids: list[int], timeout_s: float = 30.0) -> None:
    """Wait until every pid has exited; kill what outlives the timeout."""
    import signal

    deadline = time.monotonic() + timeout_s
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


class RssSampler:
    """Samples the process tree's RSS on a daemon thread; ``peak_mb``
    is the largest sample seen."""

    INTERVAL_S = 0.2

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / float(1 << 20)


def job_watermark(sc) -> int:
    """Id the next Spark job will get: jobs submitted between two reads
    have ids in [first, second)."""
    return int(sc._jsc.sc().dagScheduler().nextJobId())


def read_jobs(sc) -> list[JobStats]:
    """Every job the status store holds, with its stage figures summed."""
    jvm = sc._jvm
    store = sc._jsc.sc().statusStore()
    stages: dict[int, list[tuple[int, int, float, float]]] = {}
    it = store.stageList(
        jvm.java.util.ArrayList(), False, False,
        sc._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
    ).iterator()
    while it.hasNext():
        s = it.next()
        if s.status().toString() == "SKIPPED":
            continue
        stages.setdefault(s.stageId(), []).append(
            (
                1,
                int(s.shuffleReadBytes()) + int(s.shuffleWriteBytes()),
                s.executorRunTime() / 1e3,
                s.executorCpuTime() / 1e9,
            )
        )
    out = []
    it = store.jobsList(None).iterator()
    while it.hasNext():
        j = it.next()
        ids = [int(x) for x in j.stageIds().mkString(",").split(",") if x]
        rows = [r for sid in ids for r in stages.get(sid, [])]
        out.append(
            JobStats(
                job_id=int(j.jobId()),
                stages=sum(r[0] for r in rows),
                shuffle_bytes=sum(r[1] for r in rows),
                run_s=sum(r[2] for r in rows),
                cpu_s=sum(r[3] for r in rows),
            )
        )
    return out
