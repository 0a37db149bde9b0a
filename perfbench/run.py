#!/usr/bin/env python3
"""Log-analytics benchmark for the engine in this checkout.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 20 --trace 0

Runs one workload (``ingest_bulk`` or ``ingest_live``, see README.md)
at local[nproc] with a fixed driver heap, checks the engine's outputs,
and prints:

- one ``{"report": ...}`` line with every named figure of the workload,
  its unit and sample count, the host facts and the calibration probe
  before and after;
- as the last line, ``{"correct", "attempted", "failed", "metrics"}``,
  where ``metrics`` holds the ``end_to_end`` metrics of BENCHMARK.json
  (``--trace 0``) or its ``per_layer`` metrics (``--trace 1``).

All files go under ``.perfbench/`` in the checkout; the traced run
writes its spans to ``.perfbench/out/``.

The measurement runs in a child process. This process makes itself the
child subreaper, so every process the run starts (the Spark JVM, the
Python worker daemon and its workers, the load generator) is re-parented
to it if its own parent ends first. It waits for each to end, stops the
ones still running after a grace period, and only then exits.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "cga_kinesis_to_elasticsearch_spark"
WORKLOADS = ("ingest_bulk", "ingest_live")
CHILD_ENV = "PERFBENCH_MEASURE"
PR_SET_CHILD_SUBREAPER = 36
# how long processes left behind by the measurement get to end by themselves
# (the JVM exits once its stdin closes, the worker daemon once the JVM is gone)
GRACE_S = 30.0


def _prepare_env(work: Path) -> None:
    """Keep every file the run writes (temp files, Spark scratch, the
    shipped package zip) inside the checkout."""
    from perfbench import common

    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    # the launcher JVM that spark-submit runs first takes no Spark conf
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(common.nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = common.DRIVER_MEM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )


def _session_conf(work: Path) -> dict[str, str]:
    from perfbench.workloads import SESSION_CONF

    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData"
    return {
        **SESSION_CONF,
        "spark.driver.extraJavaOptions": java_opts,
        "spark.executor.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": str(work / "warehouse"),
    }


def _metric_block(spec: list[dict], values: dict, required: bool) -> dict:
    out = {}
    for m in spec:
        v = values.get(m["name"])
        if v is None:
            if required:
                raise RuntimeError(f"metric {m['name']} was not measured")
            v = 0.0
        out[m["name"]] = {"value": float(v), "unit": m["unit"]}
    return out


def _stop_jvm() -> None:
    """Shut down the py4j gateway and wait for the JVM it launched, so
    the JVM no longer writes into the scratch dir when it is removed."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=GRACE_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _reap_all(grace_s: float) -> None:
    """Wait until this process has no children left. As child subreaper
    it inherits every orphaned descendant, so no child left means every
    process the run started has ended. Stragglers get SIGTERM after
    ``grace_s`` and SIGKILL 5 s later."""
    deadline = time.monotonic() + grace_s
    signals = [signal.SIGTERM, signal.SIGKILL]
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if signals and time.monotonic() > deadline:
            sig = signals.pop(0)
            left = _descendants(os.getpid())
            print(f"perfbench: sending {sig.name} to {len(left)} left-over processes",
                  file=sys.stderr)
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        time.sleep(0.05)


def _supervise() -> int:
    """Run the measurement in a child and wait for every process it
    starts, on every path out."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        print("perfbench: cannot become child subreaper", file=sys.stderr)
        return 3
    child = subprocess.Popen([sys.executable, str(Path(__file__).resolve()), *sys.argv[1:]],
                             env={**os.environ, CHILD_ENV: "1"})

    def forward(signum, _frame):
        if child.poll() is None:
            child.send_signal(signum)

    for sig in (signal.SIGTERM, signal.SIGINT, signal.SIGHUP):
        signal.signal(sig, forward)
    try:
        rc = child.wait()
    finally:
        if child.poll() is None:
            child.kill()
            child.wait()
        _reap_all(GRACE_S)
    return rc


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (PACKAGE / "__init__.py").is_file():
        print(f"engine package not found at {PACKAGE}", file=sys.stderr)
        return 2
    if os.environ.get(CHILD_ENV) != "1":
        return _supervise()
    # a stop from the supervisor still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    sys.path.insert(0, str(ROOT))

    base = ROOT / ".perfbench"
    work = base / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    _prepare_env(work)

    from perfbench import common, workloads
    from perfbench.trace import Tracer

    from cga_kinesis_to_elasticsearch_spark.session import get_spark

    spark = None
    phases: dict[str, float] = {}
    t_run = time.perf_counter()
    try:
        t = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", extra_conf=_session_conf(work))
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        host = common.host_facts(spark)
        common.calibration_probe(spark, rows=1_000_000)  # first job: JIT warm-up
        probe_before = common.calibration_probe(spark)
        ctx = workloads.Ctx(
            spark=spark,
            work=work,
            seed=args.seed,
            seconds=args.seconds,
            tracer=Tracer(spark, enabled=bool(args.trace)),
            progress=common.ProgressLog(spark),
            rss=common.RssSampler(exclude_cmd="loadgen.py"),
        )
        ctx.layer["setup.session_s"] = session_s
        phases["session_and_probe"] = time.perf_counter() - t_run
        t = time.perf_counter()
        getattr(workloads, args.workload)(ctx)
        phases["workload"] = time.perf_counter() - t
        probe_after = common.calibration_probe(spark)
        if args.trace and args.workload == "ingest_bulk":
            spark = None  # single_core stops the session
            ctx.layer["scaling.records_per_s_1core"] = workloads.single_core(ctx)
        e2e = {"setup_s": ctx.setup_s, **ctx.e2e}
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "host": host,
            "calibration_probe_s": {"before": probe_before, "after": probe_after},
            "failed_ratio": ctx.failed / max(ctx.attempted, 1),
            "peak_rss_mb_in_window": ctx.rss.peak_mb,
            "phases_s": {**phases, "total": time.perf_counter() - t_run},
            **ctx.report,
        }
        if args.trace:
            spans = base / "out" / f"spans-{args.workload}-{args.seed}.jsonl"
            ctx.tracer.write(spans)
            report["spans"] = str(spans.relative_to(ROOT))
            report["spans_recorded"] = len(ctx.tracer.spans)
            report["traced_end_to_end"] = e2e
            metrics = _metric_block(spec["per_layer"], ctx.layer, required=False)
        else:
            metrics = _metric_block(spec["end_to_end"], e2e, required=True)
        print(json.dumps({"report": report}, default=str))
        print(
            json.dumps(
                {
                    "correct": ctx.failed == 0,
                    "attempted": max(ctx.attempted, 1),
                    "failed": ctx.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if spark is not None:
            spark.stop()
        _stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
