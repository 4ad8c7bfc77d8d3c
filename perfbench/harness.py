"""Session lifecycle, host-noise probe, JVM memory and the span tracer.

Everything here wraps the engine from the outside: spans are opened around
calls into public engine functions, and job/task counts come from Spark's
public job-group and status-tracker APIs. Nothing inside the engine is
instrumented.
"""


import os
import signal
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from pathlib import Path


def start_session(work: Path, cores: int):
    """Cold start: launch the JVM, create the SparkSession and warm the
    JVM, the Arrow path and the Python workers with one pandas-UDF job over
    a shuffle. Every scratch file Spark or its workers write lands in
    `work`. Returns (spark, seconds)."""
    for sub in ("local", "tmp", "warehouse"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    # SPARK_LOCAL_DIRS overrides spark.local.dir, so pin both
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["TMPDIR"] = str(work / "tmp")
    # spark-submit first runs a short launcher JVM; keep its files out of /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}"
    t0 = time.perf_counter()
    from nhse_probabilistic_linkage_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.local.dir": str(work / "local"),
            "spark.sql.warehouse.dir": str(work / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms4g",
            "spark.ui.showConsoleProgress": "false",
            # the status tracker must still hold every job of a traced run
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    _warm(spark, cores)
    return spark, time.perf_counter() - t0


def _warm(spark, cores: int) -> None:
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf
    from pyspark.sql.types import LongType

    @pandas_udf(LongType())
    def plus_one(s: pd.Series) -> pd.Series:
        return s + 1

    (
        spark.range(200_000, numPartitions=cores)
        .select(plus_one("id").alias("x"))
        .groupBy((F.col("x") % 97).alias("k"))
        .count()
        .collect()
    )


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(pid: int) -> float:
    """VmHWM (peak resident set) of a process, in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_session(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until the JVM and every Python worker it forked have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    pid = jvm_pid(spark)
    workers = _descendants(pid)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort, then reap
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 20
    for w in workers:
        while _alive(w) and time.monotonic() < deadline:
            time.sleep(0.05)
        if _alive(w):
            os.kill(w, signal.SIGKILL)


def cpu_jiffies() -> tuple[int, int]:
    """(steal, total) jiffies of the host, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7], sum(vals)


def noise_probe(spark, cores: int, rows: int = 40_000_000, reps: int = 2) -> float:
    """Fixed CPU microbench: a sum over xxhash64 of spark.range. The
    median of `reps` runs, in seconds; compare the start and end values
    of a run, and across runs, to see host CPU steal."""
    from pyspark.sql import functions as F

    times = []
    for _ in range(reps + 1):  # the first run compiles, and is dropped
        t0 = time.perf_counter()
        spark.range(rows, numPartitions=cores).select(
            F.sum(F.xxhash64("id") % 1024).alias("s")
        ).collect()
        times.append(time.perf_counter() - t0)
    return statistics.median(times[1:])


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    group: str
    jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0


@dataclass
class Tracer:
    """In-memory spans (name, start, end, parent, run id). Each span runs
    its Spark jobs under its own job group, so the status tracker yields
    exact per-span job and task counts."""

    spark: object
    run_id: str
    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext
        idx = len(self.spans)
        group = f"perfbench-{self.run_id}-{idx}"
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.perf_counter(), 0.0, parent, self.run_id, group)
        self.spans.append(sp)
        self._stack.append(idx)
        sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(self.spans[parent].group, self.spans[parent].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self._count(sp)

    def _count(self, sp: Span) -> None:
        st = self.spark.sparkContext.statusTracker()
        for job in st.getJobIdsForGroup(sp.group):
            info = st.getJobInfo(job)
            sp.jobs += 1
            for stage in info.stageIds if info else []:
                s = st.getStageInfo(stage)
                if s is not None:
                    sp.tasks += s.numCompletedTasks
                    sp.failed_tasks += s.numFailedTasks

    def children(self, idx: int) -> list[Span]:
        return [s for s in self.spans if s.parent == idx]

    def self_time(self, sp: Span) -> float:
        idx = self.spans.index(sp)
        return (sp.end - sp.start) - sum(c.end - c.start for c in self.children(idx))

    def totals(self, name: str) -> dict:
        """Self time, job/task counts summed over every span called `name`
        and its descendants (counts) — a layer's share of the run."""
        picked = [s for s in self.spans if s.name == name]
        out = {"s": sum(self.self_time(s) for s in picked), "jobs": 0, "tasks": 0, "failed_tasks": 0}
        for s in picked:
            for d in self._subtree(self.spans.index(s)):
                out["jobs"] += d.jobs
                out["tasks"] += d.tasks
                out["failed_tasks"] += d.failed_tasks
        return out

    def _subtree(self, idx: int) -> list[Span]:
        out, todo = [], [idx]
        while todo:
            i = todo.pop()
            out.append(self.spans[i])
            todo.extend(j for j, s in enumerate(self.spans) if s.parent == i)
        return out

    def write(self, path: Path) -> None:
        import json

        path.parent.mkdir(parents=True, exist_ok=True)
        with open(path, "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": s.name, "start": s.start, "end": s.end,
                    "parent": s.parent, "run_id": s.run_id, "self_s": self.self_time(s),
                    "jobs": s.jobs, "tasks": s.tasks, "failed_tasks": s.failed_tasks,
                }) + "\n")
