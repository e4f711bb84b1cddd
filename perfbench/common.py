"""Shared plumbing: checkout paths, environment, the Spark session, run
isolation, the span tracer, the /proc RSS sampler and the host record."""

from __future__ import annotations

import contextlib
import json
import os
import platform
import shutil
import threading
import time

PERFBENCH_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_ROOT = os.path.dirname(PERFBENCH_DIR)
CACHE_DIR = os.path.join(REPO_ROOT, ".perfbench_cache")
WORK_DIR = os.path.join(REPO_ROOT, ".perfbench_work")

# what must exist next to perfbench/ for the benchmark to run at all
REQUIRED = (
    "parserpdf_spark/jobs/extract_job.py",
    "parserpdf_spark/streaming/ingest.py",
    "parserpdf_spark/operators/dedup.py",
    "fixtures/files_corpus/doc_55.pdf",
)


def missing_sources() -> list[str]:
    return [p for p in REQUIRED if not os.path.exists(os.path.join(REPO_ROOT, p))]


def cores() -> int:
    return len(os.sched_getaffinity(0))


def prepare_environment() -> None:
    """Keep every byte the run writes inside the checkout, and size the
    session for the host.  Must run before pyspark starts a JVM."""
    shutil.rmtree(WORK_DIR, ignore_errors=True)
    for sub in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(WORK_DIR, sub))
    os.makedirs(CACHE_DIR, exist_ok=True)
    tmp = os.path.join(WORK_DIR, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_DIR, "spark-local")
    # every JVM of the run (launcher and driver): temp files here, and no
    # hsperfdata file under /tmp
    java_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), java_opts]))
    # session.py defaults to 48g, more than small hosts have
    os.environ.setdefault("SPARK_DRIVER_MEM", "2g")
    # workers run the driver's interpreter and import the engine from here
    import sys

    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [REPO_ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    import tempfile

    tempfile.tempdir = tmp


def out_dir(name: str) -> str:
    """A fresh output directory under the run's work dir."""
    path = os.path.join(WORK_DIR, "out", name)
    shutil.rmtree(path, ignore_errors=True)
    return path


def start_spark():
    from parserpdf_spark.session import get_spark

    return get_spark(
        cores=cores(),
        app_name="perfbench",
        extra_conf={
            # the heap starts at its maximum and is touched at start, so the
            # JVM's resident size is the heap size instead of tracking when
            # G1 grew the heap or first wrote to a region of it
            "spark.driver.extraJavaOptions":
                f"-Xms{os.environ['SPARK_DRIVER_MEM']} -XX:+AlwaysPreTouch",
            "spark.sql.warehouse.dir": os.path.join(WORK_DIR, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it: the
    JVM exits when its stdin closes and its Python workers with it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


def isolate(spark) -> int:
    """Drop everything a unit left cached or persisted, then assert that
    nothing is.  Returns how many persisted RDDs had to be dropped (the
    engine's leaks, e.g. minhash_lsh_pairs' candidate pairs)."""
    spark.catalog.clearCache()
    jsc = spark.sparkContext._jsc
    leaked = 0
    for rdd in list(jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)
        leaked += 1
    left = jsc.getPersistentRDDs().size()
    if left:
        raise RuntimeError(f"{left} RDDs still persisted after isolation")
    return leaked


def spark_work(spark, group: str) -> dict:
    """Jobs, stages, tasks and failed tasks Spark ran under job group
    ``group`` (read from the status tracker)."""
    tracker = spark.sparkContext.statusTracker()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "tasks_failed": 0}
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            stage = tracker.getStageInfo(stage_id)
            if stage is None or stage.numTasks == 0 and stage.numCompletedTasks == 0:
                continue  # skipped stage (its shuffle output was reused)
            out["stages"] += 1
            out["tasks"] += stage.numCompletedTasks + stage.numFailedTasks
            out["tasks_failed"] += stage.numFailedTasks
    return out


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------
class Tracer:
    """In-memory spans (name, start, end, parent, run id), written once
    when the run ends.  With ``enabled=False`` spans cost one branch."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self.events: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "run_id": self.run_id, "start": time.perf_counter() - self._t0,
               "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._t0

    def event(self, name: str, **attrs) -> None:
        if self.enabled:
            self.events.append({"name": name, "run_id": self.run_id,
                                "t": time.perf_counter() - self._t0, **attrs})

    def self_times(self) -> dict[str, float]:
        """Per span name: summed duration minus the part its direct
        children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"run_id": self.run_id, "spans": self.spans,
                       "events": self.events, "self_s": self.self_times(),
                       **extra}, fh, indent=1, default=str)


# ---------------------------------------------------------------------------
# memory: summed RSS of this process and all its descendants
# ---------------------------------------------------------------------------
def _tree_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        pid = int(name)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, ()))
    return total


class RssSampler:
    """Samples the process tree's summed RSS on a thread: the driver, the
    JVM it launched and the JVM's Python workers."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.samples: list[tuple[float, int]] = []  # (perf_counter, kB)
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.samples.append((time.perf_counter(), _tree_rss_kb(me)))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    def peak_mb(self, start: float, end: float) -> float:
        """Highest sample taken between two perf_counter readings."""
        return max((kb for t, kb in self.samples if start <= t <= end), default=0) / 1024.0


# ---------------------------------------------------------------------------
# host record
# ---------------------------------------------------------------------------
def burn_control_ms() -> float:
    """A fixed pure-Python loop, timed in the same run as the workload so
    results from a slower or busier host can be recognised."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t0) * 1000.0


def cpu_ticks() -> list[int]:
    """The host-wide CPU tick counters of /proc/stat (user, nice, system,
    idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def host_record(ticks0: list[int]) -> dict:
    """The host, and its CPU use since ``ticks0`` (a cpu_ticks() reading):
    the busy and stolen shares of all cores' time."""
    delta = [b - a for a, b in zip(ticks0, cpu_ticks())]
    total = sum(delta) or 1
    mem_kb = 0
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    return {
        "cores": cores(),
        "mem_gb": round(mem_kb / 1024 / 1024, 1),
        "python": platform.python_version(),
        "driver_mem": os.environ.get("SPARK_DRIVER_MEM"),
        "busy_share": round(1 - (delta[3] + delta[4]) / total, 3),
        "steal_share": round(delta[7] / total, 4),
        "burn_control_ms": round(burn_control_ms(), 2),
    }
