"""Shared plumbing for the perfbench workloads.

Everything here reads the engine from outside: the session comes from
``watchman_spark.session.get_spark``, layer numbers come from Spark's own
status stores over py4j, and process memory comes from ``/proc``. Nothing
in ``watchman_spark/`` is patched or wrapped.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
T0 = time.perf_counter()


def log(msg: str) -> None:
    """A progress line on stderr, stamped with seconds since start."""
    print(f"perfbench: {time.perf_counter() - T0:7.1f} s  {msg}", file=sys.stderr, flush=True)


def cores() -> int:
    """The core count ``nproc`` reports (the affinity mask, not the host)."""
    return len(os.sched_getaffinity(0))


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (q in [0, 1]); a single value is its own."""
    vs = sorted(values)
    if not vs:
        raise ValueError("quantile of no values")
    pos = q * (len(vs) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(vs) - 1)
    return vs[lo] + (vs[hi] - vs[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return statistics.median(values)


class Workdir:
    """A private scratch tree inside the checkout, removed on close.

    Spark's local dirs, the JVM's and Python's temp dirs, inputs and
    warehouses all live here, so a run writes nothing outside the checkout.
    """

    def __init__(self) -> None:
        self.path = ROOT / ".perfbench_work" / f"{os.getpid()}-{time.time_ns()}"
        self.path.mkdir(parents=True)
        self.tmp = self.sub("tmp")
        os.environ["TMPDIR"] = str(self.tmp)

    def sub(self, name: str) -> Path:
        p = self.path / name
        p.mkdir(parents=True, exist_ok=True)
        return p

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            self.path.parent.rmdir()
        except OSError:
            pass


def start_session(work: Workdir, n_cores: int, app: str = "perfbench"):
    """The engine's own session builder with the engine's defaults.

    Overrides: UI off, and every scratch directory inside the work dir.
    """
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(ROOT), path) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    from watchman_spark.session import get_spark

    return get_spark(
        app,
        master=f"local[{n_cores}]",
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": str(work.sub("spark-local")),
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={work.tmp} -XX:-UsePerfData"
            ),
        },
    )


def stop_spark() -> None:
    """Stop the active SparkContext, then the JVM it launched, and wait
    until that process has exited (its Python workers exit with it)."""
    if "pyspark" not in sys.modules:
        return
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - a hung JVM must still be reaped
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


class RssSampler:
    """Peak resident memory of this process and all its descendants (the
    JVM and its Python workers), sampled from /proc on a daemon thread."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    def _tree(self) -> list[int]:
        out, todo = [], [os.getpid()]
        while todo:
            pid = todo.pop()
            out.append(pid)
            try:
                for tid in os.listdir(f"/proc/{pid}/task"):
                    with open(f"/proc/{pid}/task/{tid}/children") as f:
                        todo.extend(int(c) for c in f.read().split())
            except OSError:
                continue
        return out

    def sample(self) -> int:
        total = 0
        for pid in self._tree():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except OSError:
                continue
        self.peak_bytes = max(self.peak_bytes, total)
        return total

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / 2**20


@dataclass
class Outcome:
    """Operations attempted and failed, with the reason for each failure."""

    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)
        return ok

    def fail(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append(what)


# -- Spark status stores ------------------------------------------------------

_EXCHANGE_RE = re.compile(r"(?<!Reused)Exchange \(\d+\)")


@dataclass
class JobInfo:
    job_id: int
    description: str
    group: str
    stage_ids: list[int]
    start_ms: int
    end_ms: int


@dataclass
class StageInfo:
    stage_id: int
    num_tasks: int
    run_s: float
    cpu_s: float
    gc_s: float
    input_bytes: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    fetch_wait_s: float
    spill_bytes: int
    start_ms: int
    end_ms: int
    skew: float  # max task run time over median task run time


def _opt(o, default=None):
    return o.get() if o.isDefined() else default


class SparkTrace:
    """Reads finished jobs, stages and SQL plans from the driver's status
    stores. Both stores exist with ``spark.ui.enabled=false``."""

    def __init__(self, spark) -> None:
        self.spark = spark
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        q = sc._gateway.new_array(self._jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        self._quantiles = q

    def last_job_id(self) -> int:
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        return jobs.apply(0).jobId() if jobs.size() else -1

    def jobs_after(self, job_id: int) -> list[JobInfo]:
        """Jobs with an id above ``job_id``, ascending (the store lists
        newest first)."""
        jobs = self._store.jobsList(self._jvm.java.util.ArrayList())
        out = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() <= job_id:
                break
            sids = j.stageIds()
            sub, done = _opt(j.submissionTime()), _opt(j.completionTime())
            out.append(
                JobInfo(
                    job_id=j.jobId(),
                    description=_opt(j.description(), "") or "",
                    group=_opt(j.jobGroup(), "") or "",
                    stage_ids=[sids.apply(k) for k in range(sids.size())],
                    start_ms=sub.getTime() if sub else 0,
                    end_ms=done.getTime() if done else 0,
                )
            )
        return out[::-1]

    def stage(self, stage_id: int) -> StageInfo | None:
        try:
            s = self._store.lastStageAttempt(stage_id)
        except Exception:  # noqa: BLE001 - py4j NoSuchElementException
            return None
        if str(s.status()) == "SKIPPED":
            return None
        skew = 1.0
        summary = self._store.taskSummary(stage_id, s.attemptId(), self._quantiles)
        if summary.isDefined():
            rt = summary.get().executorRunTime()
            med, mx = rt.apply(0), rt.apply(1)
            skew = mx / med if med > 0 else 1.0
        sub, done = _opt(s.submissionTime()), _opt(s.completionTime())
        return StageInfo(
            stage_id=stage_id,
            num_tasks=s.numTasks(),
            run_s=s.executorRunTime() / 1e3,
            cpu_s=s.executorCpuTime() / 1e9,
            gc_s=s.jvmGcTime() / 1e3,
            input_bytes=s.inputBytes(),
            output_bytes=s.outputBytes(),
            shuffle_read_bytes=s.shuffleReadBytes(),
            shuffle_write_bytes=s.shuffleWriteBytes(),
            fetch_wait_s=s.shuffleFetchWaitTime() / 1e3,
            spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
            start_ms=sub.getTime() if sub else 0,
            end_ms=done.getTime() if done else 0,
            skew=skew,
        )

    def stages_of(self, jobs: list[JobInfo]) -> list[StageInfo]:
        seen: set[int] = set()
        out = []
        for j in jobs:
            for sid in j.stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                st = self.stage(sid)
                if st is not None:
                    out.append(st)
        return out

    def exchange_count(self, job_ids: set[int]) -> int:
        """Exchanges in the final physical plan of the SQL execution that
        ran any of ``job_ids`` (AQE's initial plan is not counted)."""
        execs = self._sql.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            jobs = e.jobs().keySet().toSeq()
            ids = {int(jobs.apply(k)) for k in range(jobs.size())}
            if ids & job_ids:
                plan = e.physicalPlanDescription().split("\n\n", 1)[0]
                final = plan.split("== Initial Plan ==", 1)[0]
                return len(_EXCHANGE_RE.findall(final))
        return 0


def routed_write_stages(stages: list[StageInfo]) -> tuple[StageInfo, StageInfo]:
    """(exchange, write) stages of a staged routed write: the write stage
    reads a shuffle and writes files; the exchange stage is the last
    shuffle-writing stage before it (the ``conv_bucket`` repartition)."""
    writes = [s for s in stages if s.shuffle_read_bytes > 0 and s.output_bytes > 0]
    if len(writes) != 1:
        raise RuntimeError(f"expected one routed-write stage, found {len(writes)}")
    write = writes[0]
    maps = [
        s for s in stages if s.shuffle_write_bytes > 0 and s.stage_id < write.stage_id
    ]
    if not maps:
        raise RuntimeError("no shuffle stage feeds the routed write")
    return max(maps, key=lambda s: s.stage_id), write


def busy_union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of [start_ms, end_ms] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(i for i in intervals if i[1] >= i[0] > 0):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1e3
