"""Run plumbing shared by the workloads: a run-owned state root, the
Spark session, memory readings, the environment record and the output
lines."""

from __future__ import annotations

import json
import os
import platform
import shutil
import subprocess
import tempfile
import time
from contextlib import contextmanager

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# everything a run writes lives here, inside the checkout
OUT_DIR = os.path.join(REPO, ".perfbench")


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """One benchmark process: owns a temp root under ``.perfbench/``
    (corpus, catalogs, streaming roots, Spark local dirs, event log)
    that :meth:`close` deletes, and the Spark session inside it."""

    def __init__(self, workload: str, seed: int) -> None:
        self.root = os.path.join(OUT_DIR, f"run-{workload}-{seed}-{os.getpid()}")
        shutil.rmtree(self.root, ignore_errors=True)
        self.eventlog = os.path.join(self.root, "eventlog")
        self.tmp = os.path.join(self.root, "tmp")
        for d in (self.eventlog, self.tmp):
            os.makedirs(d)
        self.spark = None
        self._proc = None

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def start_spark(self, app: str):
        """The program's own session factory on ``local[nproc]``, with
        the run's state redirected into the run root and the package put
        on the Python workers' path (they may start outside the repo)."""
        os.environ.update(
            {
                "SPARK_GRAFT_CPUS": str(nproc()),
                "SPARK_LOCAL_DIRS": self.tmp,
                "SENG_EVENTLOG": "1",
                "SENG_EVENTLOG_DIR": self.eventlog,
                "SPARK_DRIVER_MEMORY": os.environ.get("SPARK_DRIVER_MEMORY", "2g"),
                "TMPDIR": self.tmp,
            }
        )
        tempfile.tempdir = self.tmp  # the Py4J gateway's connection file
        from pyspark import SparkContext

        from searchengine_spark.session import get_spark

        self.spark = get_spark(
            app,
            master=f"local[{nproc()}]",
            extra_conf={
                "spark.executorEnv.PYTHONPATH": REPO,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp}",
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self._proc = getattr(SparkContext._gateway, "proc", None)
        return self.spark

    def peak_rss_mb(self) -> float:
        """Peak resident memory (VmHWM) of this Python driver plus the
        Spark JVM."""
        pid = self.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        return (_proc_status_kb(os.getpid(), "VmHWM") + _proc_status_kb(int(pid), "VmHWM")) / 1024.0

    def live_mb(self) -> float:
        """Memory the driver holds on to: this Python process's resident
        set plus the JVM heap still in use after a full collection."""
        jvm = self.spark.sparkContext._jvm
        for _ in range(2):  # the second collects what the first one's cleanup released
            jvm.java.lang.System.gc()
            time.sleep(0.2)
        rt = jvm.java.lang.Runtime.getRuntime()
        heap = rt.totalMemory() - rt.freeMemory()
        return _proc_status_kb(os.getpid(), "VmRSS") / 1024.0 + heap / 2**20

    def stop_spark(self) -> None:
        """Stop the session and wait for the JVM (and the Python workers
        it forked) to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        self.spark.stop()
        self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if self._proc is not None:
            if self._proc.stdin:
                self._proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                self._proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait()

    def close(self) -> None:
        try:
            self.stop_spark()
        finally:
            shutil.rmtree(self.root, ignore_errors=True)


class Phases:
    """Wall-clock seconds of each phase of a run, for sizing the run."""

    def __init__(self) -> None:
        self.seconds: dict[str, float] = {}

    @contextmanager
    def __call__(self, name: str):
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.seconds[name] = time.perf_counter() - t0


def _proc_status_kb(pid: int, field: str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith(field + ":"):
                return int(line.split()[1])
    return 0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def snapshot_bytes(snap) -> int:
    """On-disk bytes of a published snapshot's serving tables."""
    return sum(dir_bytes(d) for d in (snap.postings_dir, snap.docmap_dir, snap.terms_dir))


def environment(seed: int, sf: float) -> dict:
    import pyspark

    try:
        sha = subprocess.run(
            ["git", "rev-parse", "HEAD"],
            cwd=REPO,
            capture_output=True,
            text=True,
            timeout=10,
            # never report the sha of an enclosing repository
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(REPO)},
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        sha = None  # a checkout without git metadata
    return {
        "nproc": nproc(),
        "spark_version": pyspark.__version__,
        "python": platform.python_version(),
        "git_sha": sha,
        "seed": seed,
        "sf": sf,
        "unix_time": round(time.time()),
    }


def result_line(correct: bool, attempted: int, failed: int, metrics: dict[str, float], units: dict[str, str]) -> str:
    """The final output line: every metric named with its unit."""
    return json.dumps(
        {
            "correct": bool(correct),
            "attempted": int(attempted),
            "failed": int(failed),
            "metrics": {k: {"value": float(metrics[k]), "unit": u} for k, u in units.items()},
        }
    )
