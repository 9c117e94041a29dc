"""Shared pieces of the benchmark: paths, the Spark session lifecycle, spans
and job groups for the traced run, and small measurement helpers.

Everything the benchmark writes goes under ``perfbench/out/`` of the checkout
it runs from (Spark local dirs, JVM temp files, event logs, corpora, sinks).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import statistics
import subprocess
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
WORK = os.path.join(OUT, "work")
TMP = os.path.join(OUT, "tmp")
EVENTLOG = os.path.join(OUT, "eventlog")

CORES = 4
SHUFFLE_PARTITIONS = 8


def prepare_dirs() -> None:
    """Empty the per-run working directories and point every temp-file user
    (Python, the JVM, Spark's local dirs, Python workers) inside them."""
    for d in (WORK, TMP, EVENTLOG):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = TMP
    tempfile.tempdir = TMP
    os.environ["SPARK_LOCAL_DIRS"] = TMP
    # no hsperfdata files in the system temp directory, from the launcher
    # JVM or the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}"
    # Python workers are started by the JVM and inherit this.
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")


def base_conf() -> dict[str, str]:
    return {
        "spark.local.dir": TMP,
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={TMP}",
        "spark.sql.warehouse.dir": os.path.join(TMP, "warehouse"),
    }


def traced_conf() -> dict[str, str]:
    conf = base_conf()
    conf.update(
        {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + EVENTLOG,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        }
    )
    return conf


class Sessions:
    """Owns the driver JVM for the whole run.

    ``setup`` times three calls of ``session.get_spark`` (warm-up included):
    the first launches the JVM, the next two stop the session and build a
    fresh one on the same JVM. ``setup_s`` is their median. Every measured
    pass then runs in a fresh session, so per-session costs such as
    starting Python workers are paid inside it.
    """

    def __init__(self) -> None:
        self.spark = None
        self.setup_samples: list[float] = []

    def _build(self, conf: dict[str, str]):
        from inspectehr_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(
            app_name="perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf=conf,
        )
        return spark, time.perf_counter() - t0

    def setup(self, after_launch=None, n: int = 3):
        """`after_launch` runs once the JVM is up, before the second
        sample."""
        for i in range(n):
            if self.spark is not None:
                self.spark.stop()
            self.spark, dt = self._build(base_conf())
            self.setup_samples.append(dt)
            if i == 0 and after_launch is not None:
                after_launch()
        return self.spark

    @property
    def setup_s(self) -> float:
        return statistics.median(self.setup_samples)

    @property
    def cold_start_s(self) -> float:
        return self.setup_samples[0]

    def restart(self, conf: dict[str, str] | None = None):
        self.spark.stop()
        self.spark, _ = self._build(conf or base_conf())
        return self.spark

    def stop_session(self) -> None:
        self.spark.stop()
        self.spark = None

    def jvm_heap_retained_mb(self) -> float:
        """Driver JVM heap in use after full garbage collections. The second
        collection follows a pause in which Spark's context cleaner can
        release what the first one found unreachable (cached blocks,
        broadcasts)."""
        jvm = self.spark.sparkContext._jvm
        jvm.java.lang.System.gc()
        time.sleep(0.5)
        jvm.java.lang.System.gc()
        rt = jvm.java.lang.Runtime.getRuntime()
        return (rt.totalMemory() - rt.freeMemory()) / 2**20

    def jvm_peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM: its peak resident set so far."""
        pid = self.spark.sparkContext._gateway.proc.pid
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError("VmHWM missing from /proc status")

    def close(self) -> None:
        """Stop the session, then the JVM (its Python workers go with it),
        and wait until the JVM process has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        gw.shutdown()
        proc = gw.proc
        proc.stdin.close()  # the gateway server exits when stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


class Tracer:
    """Spans and job groups set by the benchmark around calls into the
    program's public functions. A span is (layer, start, end, parent index);
    a layer's self time is its spans' time minus the part covered by child
    spans. Job groups let the event log and the status tracker attribute
    Spark jobs to the layer call that started them."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.spans: list[tuple[str, float, float, int | None]] = []
        self._open: list[int] = []
        self._groups: list[str] = []
        self.groups_used: set[str] = set()

    @contextlib.contextmanager
    def span(self, layer: str, group: str | None = None):
        parent = self._open[-1] if self._open else None
        idx = len(self.spans)
        self.spans.append((layer, time.perf_counter(), 0.0, parent))
        self._open.append(idx)
        if group is not None:
            self._groups.append(group)
            self.groups_used.add(group)
            self.sc.setJobGroup(group, group)
        try:
            yield
        finally:
            if group is not None:
                self._groups.pop()
                if self._groups:
                    self.sc.setJobGroup(self._groups[-1], self._groups[-1])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)
            self._open.pop()
            layer_, start, _, parent_ = self.spans[idx]
            self.spans[idx] = (layer_, start, time.perf_counter(), parent_)

    def self_seconds(self) -> dict[str, float]:
        """Self time per layer: span durations minus their children's."""
        out: dict[str, float] = {}
        for layer, start, end, _ in self.spans:
            out[layer] = out.get(layer, 0.0) + (end - start)
        for layer, start, end, parent in self.spans:
            if parent is not None:
                p_layer = self.spans[parent][0]
                out[p_layer] -= end - start
        return out

    def total_seconds(self, layer: str) -> float:
        return sum(e - s for name, s, e, _ in self.spans if name == layer)

    def job_counts(self, groups) -> tuple[int, int, int]:
        """(jobs, executed stages, completed tasks) started under `groups`,
        from the status tracker. Skipped stages (reused shuffle output)
        run no task and are not counted."""
        st = self.sc.statusTracker()
        jobs = stages = tasks = 0
        seen: set[int] = set()
        for g in groups:
            for jid in st.getJobIdsForGroup(g):
                jobs += 1
                info = st.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    si = st.getStageInfo(sid)
                    if si is not None and si.numCompletedTasks > 0:
                        stages += 1
                        tasks += si.numCompletedTasks
        return jobs, stages, tasks


def tree_bytes(path: str) -> tuple[int, int]:
    """(files, bytes) of the parquet files under `path`."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return files, size

