"""Host facts, the calibration probe, memory sampling, percentiles and
the stream progress listener shared by the workloads."""

from __future__ import annotations

import json
import os
import platform
import statistics
import threading
import time
from pathlib import Path

# driver heap pinned so runs on one host are comparable
DRIVER_MEM = "2g"
PROBE_ROWS = 8_000_000


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_facts(spark) -> dict:
    import pyspark

    system = spark.sparkContext._jvm.java.lang.System
    java = f"{system.getProperty('java.vm.name')} {system.getProperty('java.version')}"
    return {
        "nproc": nproc(),
        "master": spark.sparkContext.master,
        "driver_mem": DRIVER_MEM,
        "pyspark": pyspark.__version__,
        "java": java,
        "python": platform.python_version(),
    }


def calibration_probe(spark, rows: int = PROBE_ROWS) -> float:
    """Fixed CPU-bound job (md5 over a range, no shuffle): its wall time
    shows host drift beside the benchmark's numbers."""
    from pyspark.sql import functions as F

    t = time.perf_counter()
    spark.range(rows).select(
        F.md5(F.col("id").cast("string")).alias("h")
    ).agg(F.count("h")).collect()
    return time.perf_counter() - t


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile, q in (0, 100]."""
    s = sorted(values)
    k = max(0, min(len(s) - 1, int(-(-q * len(s) // 100)) - 1))
    return s[k]


def supported(values: list[float], q: float) -> bool:
    """A percentile is reported only when at least ten samples lie
    beyond it."""
    return len(values) - int(-(-q * len(values) // 100)) >= 10


def timing(values: list[float], unit: str, pcts=(50, 90)) -> dict:
    """Median always; each higher percentile only when supported."""
    out = {"unit": unit, "samples": len(values)}
    if not values:
        return out
    for q in pcts:
        if q == 50 or supported(values, q):
            out[f"p{q}"] = statistics.median(values) if q == 50 else percentile(values, q)
    return out


class RssSampler:
    """Peak resident memory of this process and its descendants (the JVM
    and the Python workers it forks), sampled on a thread while the
    ``with`` block runs. Processes whose command line holds
    ``exclude_cmd`` are left out, with their descendants."""

    def __init__(self, exclude_cmd: str = "", period_s: float = 0.25):
        self.exclude_cmd = exclude_cmd.encode()
        self.period_s = period_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, self.sample_kb())
            self._stop.wait(self.period_s)

    def sample_kb(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in Path("/proc").iterdir():
            if not d.name.isdigit():
                continue
            try:
                status = (d / "status").read_text()
            except OSError:
                continue
            pid = int(d.name)
            ppid = kb = 0
            for line in status.splitlines():
                if line.startswith("PPid:"):
                    ppid = int(line.split()[1])
                elif line.startswith("VmRSS:"):
                    kb = int(line.split()[1])
            children.setdefault(ppid, []).append(pid)
            rss[pid] = kb
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if self.exclude_cmd and self._cmd_has(pid, self.exclude_cmd):
                continue
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total

    @staticmethod
    def _cmd_has(pid: int, needle: bytes) -> bool:
        try:
            return needle in Path(f"/proc/{pid}/cmdline").read_bytes()
        except OSError:
            return False


class ProgressLog:
    """StreamingQueryListener that keeps every progress event (the
    monitoring contract of Structured Streaming) as a dict."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.events: list[dict] = []
        log = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event) -> None:
                pass

            def onQueryProgress(self, event) -> None:
                p = json.loads(event.progress.json)
                p["_received"] = time.time()
                log.events.append(p)

            def onQueryIdle(self, event) -> None:
                pass

            def onQueryTerminated(self, event) -> None:
                pass

        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self._spark.streams.removeListener(self._listener)

    def batches(self, query_id: str) -> list[dict]:
        """Progress of the batches that processed data, for one query."""
        return [
            p
            for p in self.events
            if p["id"] == query_id and p.get("numInputRows", 0) > 0
        ]


def trigger_start(progress: dict) -> float:
    """Epoch seconds at which a batch's trigger started."""
    import datetime as dt

    start = dt.datetime.strptime(progress["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return start.replace(tzinfo=dt.timezone.utc).timestamp()


def commit_time(progress: dict) -> float:
    """Epoch seconds at which a batch's trigger finished (its commit)."""
    return trigger_start(progress) + progress["durationMs"]["triggerExecution"] / 1000.0


def wait_rows(log: ProgressLog, query, n_rows: int, timeout_s: float) -> None:
    """Wait until the progress events of ``query`` account for ``n_rows``
    input rows (events reach the listener bus after their batch)."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if sum(b["numInputRows"] for b in log.batches(query.id)) >= n_rows:
            return
        if query.exception() is not None:
            raise query.exception()
        time.sleep(0.05)
    raise TimeoutError(f"stream did not report {n_rows} rows in {timeout_s} s")
