"""What every workload shares: the Spark session and its teardown, the
progress listener, span recording, job-group statistics and peak RSS."""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time
from contextlib import contextmanager

from pyspark.sql.streaming import StreamingQueryListener


def cores() -> int:
    return len(os.sched_getaffinity(0))


def start_session(tmp: str):
    """local[cores] session through the package's own factory, with every
    scratch location inside the run's temp dir."""
    from mypipe_spark.session import get_spark

    n = cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    # every JVM the launch starts (launcher and driver) keeps its temp
    # files in the run's temp dir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    spark = get_spark(
        "perfbench",
        shuffle_partitions=n,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def fits(t0: float, seconds: float, done: int) -> bool:
    """Whether one more repetition, as long as the mean so far, ends
    within ``seconds`` of t0."""
    elapsed = time.perf_counter() - t0
    return elapsed + elapsed / done <= seconds


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    """root and all its live descendants (the driver JVM and the Python
    workers it forks)."""
    kids = _children()
    out, todo = [], [root or os.getpid()]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def tree_rss_mb() -> dict[str, float]:
    """Current RSS of this process's tree, read from /proc, summed per
    command name, with the whole tree under "total"."""
    page_mb = os.sysconf("SC_PAGE_SIZE") / 2**20
    parts: dict[str, float] = {}
    for pid in process_tree():
        try:
            with open(f"/proc/{pid}/comm") as f:
                name = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                mb = int(f.read().split()[1]) * page_mb
        except OSError:
            continue  # exited while reading
        parts[name] = parts.get(name, 0.0) + mb
    parts["total"] = sum(parts.values())
    return parts


class RssSampler:
    """Peak of the summed RSS of the benchmark process, the driver JVM and
    its Python workers, sampled every ``interval_s`` on a daemon thread."""

    def __init__(self, interval_s: float = 0.25) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_parts: dict[str, float] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.interval_s):
            parts = tree_rss_mb()
            if parts["total"] > self.peak_mb:
                self.peak_mb, self.peak_parts = parts["total"], parts

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def stop_session(spark, timeout_s: float = 30.0) -> None:
    """Stop Spark, shut the JVM down and wait until every process this
    run started has exited."""
    from pyspark import SparkContext

    tree = [p for p in process_tree() if p != os.getpid()]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + timeout_s
    while tree and time.monotonic() < deadline:
        tree = [p for p in tree if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for pid in tree:
        try:
            os.kill(pid, signal.SIGKILL)
        except OSError:
            pass


class ProgressRecorder(StreamingQueryListener):
    """Keeps every query progress event in memory. The listener sees all
    of them; ``StreamingQuery.recentProgress`` keeps only the last 100."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self.events: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "query": p.name,
            "id": str(p.id),
            "run": str(p.runId),
            "batchId": p.batchId,
            "timestamp": p.timestamp,
            "durationMs": dict(p.durationMs),
            "numInputRows": p.numInputRows,
        }
        with self._lock:
            self.events.append(rec)

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def for_run(self, run_id: str) -> list[dict]:
        with self._lock:
            return [e for e in self.events if e["run"] == run_id]

    def wait_for(self, query, timeout_s: float = 30.0) -> list[dict]:
        """Progress events of one query run, once the event for its last
        completed batch has arrived (delivery is asynchronous)."""
        run_id = str(query.runId)
        last = query.lastProgress
        want = -1 if last is None else last["batchId"]
        deadline = time.monotonic() + timeout_s
        while True:
            events = self.for_run(run_id)
            if want < 0 or any(e["batchId"] == want for e in events):
                return events
            if time.monotonic() > deadline:
                raise TimeoutError(f"no progress event for batch {want}")
            time.sleep(0.02)


def register_recorder(spark) -> ProgressRecorder:
    rec = ProgressRecorder()
    spark.streams.addListener(rec)
    return rec


class Spans:
    """In-memory spans (name, start, end, parent, attributes), written
    out once the run ends."""

    def __init__(self) -> None:
        self.items: list[dict] = []

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        idx = len(self.items)
        rec = {"id": idx, "name": name, "parent": parent, "start": time.time(), **attrs}
        self.items.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        idx = len(self.items)
        self.items.append(
            {"id": idx, "name": name, "parent": parent, "start": start, "end": end, **attrs}
        )
        return idx


def progress_spans(spans: Spans, events: list[dict], parent: int | None) -> None:
    """One span per microbatch with a child per progress phase."""
    from .metrics import batch_windows

    windows = batch_windows(events)
    for e in events:
        start, end = windows[e["batchId"]]
        b = spans.add(
            "batch", start, end, parent, query=e["query"], batch=e["batchId"],
            rows=e["numInputRows"],
        )
        for phase, ms in e["durationMs"].items():
            if phase != "triggerExecution":
                spans.add(f"batch.{phase}", start, start + ms / 1000.0, b, ms=ms)


def job_group_stats(spark, group: str) -> dict:
    """Jobs, stages, tasks, shuffle bytes and spill of every job run
    under one job group, read from the status tracker and the
    application status store. Skipped stages (their shuffle output was
    reused) are not counted."""
    from py4j.protocol import Py4JJavaError

    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0, "spill_bytes": 0}
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out["jobs"] += 1
        for stage_id in info.stageIds:
            try:
                stage = store.lastStageAttempt(stage_id)
            except Py4JJavaError:
                continue  # the store has no attempt for this stage
            if stage.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage.numCompleteTasks()
            out["shuffle_bytes"] += stage.shuffleWriteBytes()
            out["spill_bytes"] += stage.memoryBytesSpilled() + stage.diskBytesSpilled()
    return out


@contextmanager
def job_group(spark, group: str):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
