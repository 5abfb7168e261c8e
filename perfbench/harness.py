"""Process plumbing shared by the workloads: an isolated work directory
inside the checkout, the Spark session and its JVM, the captured JVM log,
peak memory, and the result record.

Every file the run writes lives under ``.perfbench_work/`` at the root of
the checkout and is removed when the run ends; the JVM and its Python
workers are stopped and waited for before the process exits.
"""

from __future__ import annotations

import json
import os
import re
import resource
import shutil
import statistics
import sys
import tempfile
import time
import urllib.request
from urllib.parse import urlsplit

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "apsviz_timeseriesdb_ingest_spark"
WORK_DIR = os.path.join(ROOT, ".perfbench_work")
CODEGEN_FAIL = re.compile(r"CodeGenerator: Failed to compile")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def median(values) -> float:
    return statistics.median(values) if values else 0.0


def mean(values) -> float:
    return sum(values) / len(values) if values else 0.0


class Run:
    """One benchmark process: work dir, JVM log capture, Spark session."""

    def __init__(self, workload: str):
        self.workload = workload
        self.cpus = cpu_count()
        os.makedirs(WORK_DIR, exist_ok=True)
        self.work = tempfile.mkdtemp(prefix=f"{workload}-", dir=WORK_DIR)
        self.jvm_log = os.path.join(self.work, "jvm.log")
        self.spark = None
        self._stderr = None
        self._jvm_pid = None

    # -- environment ------------------------------------------------------

    def __enter__(self) -> "Run":
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp)
        # Python workers import the package by name (zone-map stats run in
        # mapInPandas), so put the checkout on their path explicitly
        # instead of relying on the working directory.
        path = os.environ.get("PYTHONPATH", "")
        os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
        os.environ["TMPDIR"] = tmp
        tempfile.tempdir = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.work, "spark-local")
        os.environ["SPARK_GRAFT_CPUS"] = str(self.cpus)
        # every JVM spark-submit starts (its launcher too): temp files in
        # the work dir, and no hsperfdata file under the system temp dir
        os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        # The JVM inherits fd 2 at launch: route its log into a file so
        # codegen failures can be counted and stdout/stderr stay small.
        sys.stderr.flush()
        self._stderr = os.dup(2)
        fd = os.open(self.jvm_log, os.O_WRONLY | os.O_CREAT | os.O_APPEND, 0o644)
        os.dup2(fd, 2)
        os.close(fd)
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        try:
            self.stop_session()
        finally:
            sys.stderr.flush()
            if exc is not None:
                self._replay_log_tail()
            os.dup2(self._stderr, 2)
            os.close(self._stderr)
            shutil.rmtree(self.work, ignore_errors=True)
            try:
                os.rmdir(WORK_DIR)
            except OSError:
                pass

    def _replay_log_tail(self, lines: int = 40) -> None:
        try:
            with open(self.jvm_log, errors="replace") as f:
                text = f.readlines()[-lines:]
        except OSError:
            return
        os.write(self._stderr, "".join(text).encode())

    # -- session ------------------------------------------------------------

    def start_session(self, traced: bool):
        """The program's own session factory; the benchmark only moves
        every scratch path into the work dir (and, when tracing, keeps
        every job and stage in the status tracker)."""
        from apsviz_timeseriesdb_ingest_spark.session import get_spark

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "spark-warehouse"),
        }
        if traced:
            conf.update({"spark.ui.retainedJobs": "1000000",
                         "spark.ui.retainedStages": "1000000"})
        self.spark = get_spark(f"perfbench-{self.workload}", extra_conf=conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        gw = self.spark.sparkContext._gateway
        self._jvm_pid = gw.proc.pid if getattr(gw, "proc", None) else None
        return self.spark

    def stop_session(self) -> None:
        if self.spark is None:
            return
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        workers = self._children(self._jvm_pid) if self._jvm_pid else []
        try:
            self.spark.stop()
        finally:
            self.spark = None
            if gw is not None:
                gw.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
            if proc is not None:
                proc.stdin.close()  # the gateway exits on stdin EOF
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=30)
            deadline = time.monotonic() + 30
            for pid in workers:
                while _alive(pid) and time.monotonic() < deadline:
                    time.sleep(0.05)
                if _alive(pid):
                    os.kill(pid, 9)

    @staticmethod
    def _children(pid: int) -> list[int]:
        """Descendants of ``pid`` (the JVM's Python worker daemons)."""
        kids: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
        out, todo = [], [pid]
        while todo:
            for c in kids.get(todo.pop(), []):
                out.append(c)
                todo.append(c)
        return out

    # -- measurements -----------------------------------------------------

    def quiesce(self) -> None:
        """Collect garbage in the JVM and in Python, so that the measured
        region does not start with set-up's heap."""
        import gc

        gc.collect()
        self.spark.sparkContext._jvm.java.lang.System.gc()

    def peak_rss_mb(self) -> float:
        """Peak resident memory of this Python driver plus the JVM."""
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        jvm_kb = 0
        if self._jvm_pid:
            with open(f"/proc/{self._jvm_pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        jvm_kb = int(line.split()[1])
        return (py_kb + jvm_kb) / 1024.0

    def log_offset(self) -> int:
        sys.stderr.flush()
        return os.path.getsize(self.jvm_log)

    def codegen_fallbacks(self, start: int, end: int) -> int:
        with open(self.jvm_log, "rb") as f:
            f.seek(start)
            text = f.read(end - start).decode(errors="replace")
        return len(CODEGEN_FAIL.findall(text))

    def gc_seconds(self) -> float:
        """Total JVM garbage-collection time so far (driver and executors
        share the JVM in local mode)."""
        jvm = self.spark.sparkContext._jvm
        beans = jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1000.0

    def shuffle_write_bytes(self, stage_ids) -> float:
        """Shuffle bytes written by the given stages, from the Spark UI's
        REST endpoint on this machine."""
        sc = self.spark.sparkContext
        url = urlsplit(sc.uiWebUrl)
        base = f"http://127.0.0.1:{url.port}/api/v1/applications/{sc.applicationId}"
        with urllib.request.urlopen(f"{base}/stages?status=complete", timeout=30) as r:
            stages = json.load(r)
        wanted = set(stage_ids)
        return float(sum(s.get("shuffleWriteBytes", 0) for s in stages
                         if s["stageId"] in wanted))


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    return json.dumps({"correct": bool(correct), "attempted": int(attempted),
                       "failed": int(failed), "metrics": metrics})
