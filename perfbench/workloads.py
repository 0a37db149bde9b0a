"""The two workloads. Each fills the context with its end-to-end
figures, its correctness tally and, in the traced run, its per-layer
figures.

Every workload drives the engine through public entry points only:
``run_stream`` / ``run_pipeline`` / ``ParquetIndexSink`` for ingest and
``run_search_body`` / ``run_esql`` over ``sink.read_index`` for search.
Outputs are checked after the measured window, so the checks' own work
is not timed.
"""

from __future__ import annotations

import datetime as dt
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

from . import check, common, gen, layers, searches
from .trace import TracedSink, Tracer

SESSION_CONF = {"spark.ui.showConsoleProgress": "false"}
SETUP_REPEATS = 3
DAYS = 30
BULK_START = dt.datetime(2024, 1, 1)

BULK_EVENTS = 24_000
BULK_FILES = 12  # 4 files per trigger (records.py) -> 3 batches of ~8k records
BULK_POISON = 10  # all in the first file: one error-bucket write per drain
BULK_WARM_DRAINS = 2

LIVE_FILE_RECORDS = 200
LIVE_WARM_FILES = 12  # released at once: 3 back-to-back warm-up batches
LIVE_POISON = 6
LIVE_REDELIVER_SHARE = 0.01  # re-delivered records, share of events
LIVE_DUP_SHARE = 0.02  # content duplicates, share of events
LIVE_TRIGGER_S = 5
LIVE_INTERVAL_S = 1.25  # 4 files per trigger interval: 0.8 files/s, ~160 records/s

SEARCH_CYCLES = 2


@dataclass
class Ctx:
    spark: object
    work: Path
    seed: int
    seconds: float
    tracer: Tracer
    progress: common.ProgressLog
    rss: common.RssSampler
    layer: dict = field(default_factory=dict)  # per-layer figures (traced run)
    report: dict = field(default_factory=dict)  # named end-to-end figures
    attempted: int = 0
    failed: int = 0
    setup_s: float = 0.0
    e2e: dict = field(default_factory=dict)  # end-to-end figures by metric name
    bulk_files: list = field(default_factory=list)


# -- shared helpers ----------------------------------------------------------
def _pipeline_cfg():
    from cga_kinesis_to_elasticsearch_spark.pipeline import PipelineConfig
    from cga_kinesis_to_elasticsearch_spark.sources.envelopes import ALLOWED_ORIGINS

    return PipelineConfig(allowed_origins=ALLOWED_ORIGINS)


def _dim_provider(spark):
    """Per-batch dimension snapshot, rebuilt on every call as a CF API
    refresh would be (JVM-only expressions, no Python workers)."""
    from cga_kinesis_to_elasticsearch_spark.operators.enrichment import flatten_dimensions
    from cga_kinesis_to_elasticsearch_spark.sources.envelopes import synthesize_cf_dimensions

    return flatten_dimensions(*synthesize_cf_dimensions(spark))


def _setup(ctx: Ctx, build):
    """``build(rep)`` SETUP_REPEATS times; setup_s is their median. The
    first build also warms its code path (JIT, Python workers), so the
    median is a warm build."""
    samples, out = [], None
    for rep in range(SETUP_REPEATS):
        t = time.perf_counter()
        out = build(rep)
        samples.append(time.perf_counter() - t)
    ctx.setup_s = statistics.median(samples)
    ctx.layer["setup.fixture_s"] = ctx.setup_s
    ctx.report["setup_s"] = {"value": ctx.setup_s, "unit": "s", "samples": samples}
    return out


def _ingest_fixture(ctx: Ctx, name: str, *, n: int, start, spread_s: float, codec: str,
                    n_files: int, poison: int = 0, poison_files: int | None = None,
                    redeliver: int = 0, dups: int = 0):
    d = ctx.work / name
    shutil.rmtree(d, ignore_errors=True)
    table, pairs = gen.events_table(ctx.seed, n, start=start, spread_s=spread_s, content_dups=dups)
    gen.write_events(table, d / "events")
    raw = gen.encoded_records(ctx.spark, d / "events", codec)
    staged = gen.stage_files(
        raw, d / "staged", seed=ctx.seed, n_files=n_files, poison=poison,
        poison_files=poison_files, redeliver=redeliver,
    )
    return staged, pairs


def _median0(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def _more(t_window: float, last_s: float, seconds: float) -> bool:
    """Start another unit of work (a drain, a request cycle) unless the
    window would end closer to ``seconds`` without it."""
    return last_s == 0.0 or time.perf_counter() - t_window + last_s / 2 < seconds


def _rows(path: Path) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _stream_config(ck: Path, **kw):
    from cga_kinesis_to_elasticsearch_spark.streaming.job import StreamConfig

    return StreamConfig(checkpoint_location=str(ck), pipeline=_pipeline_cfg(), **kw)


def _traced_stream_args(ctx: Ctx, sink, decoder_fn, untraced_decoder):
    """(decoder, dim_provider, sink) for run_stream. In the traced run
    they are wrapped, and ``run_pipeline`` is patched where the
    streaming job looks it up (until ``tracer.restore``)."""
    tr = ctx.tracer
    if not tr.enabled:
        return untraced_decoder, _dim_provider, sink
    tr.patch("streaming.job", "run_pipeline", "pipeline.plan_build")
    return (
        tr.wrap("decode", decoder_fn, starts_batch=True),
        tr.wrap("enrich.dim_refresh", _dim_provider),
        TracedSink(sink, tr),
    )


def _check_ingest(ctx: Ctx, con, root: Path, ref: Path, staged, metrics) -> dict:
    c = check.check_landed(con, root, ref, staged.redelivered)
    errs = check.error_bucket_rows(con, root)
    ctx.attempted += staged.records
    ctx.failed += check.landed_failures(c) + abs(errs - staged.poison)
    ctx.failed += abs(metrics.errors_count - staged.poison)
    return {**c, "error_bucket": errs, "poison_injected": staged.poison}


def _executor_ms_total(tracer: Tracer) -> float:
    return sum(tracer.executor_ms_by_group().values()) if tracer.enabled else 0.0


def _stream_layers(ctx: Ctx, batches: list[dict], window_s: float, exec_before: float) -> None:
    """Stream-engine figures from the progress events of ``batches``."""
    dur = [b["durationMs"] for b in batches]
    timed = ("addBatch", "latestOffset", "getBatch", "walCommit", "commitOffsets", "queryPlanning")
    ctx.layer["stream.latest_offset_ms"] = _median0(d.get("latestOffset", 0) for d in dur)
    ctx.layer["stream.get_batch_ms"] = _median0(d.get("getBatch", 0) for d in dur)
    ctx.layer["stream.commit_ms"] = _median0(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur)
    ctx.layer["stream.overhead_s"] = _median0(
        (d["triggerExecution"] - sum(d.get(k, 0) for k in timed)) / 1000.0 for d in dur
    )
    busy = _executor_ms_total(ctx.tracer) - exec_before
    ctx.layer["stream.executor_busy_ratio"] = busy / (window_s * 1000.0 * common.nproc())


def _sink_layers(ctx: Ctx, sink_root: Path) -> None:
    files = list((sink_root / "data").rglob("*.parquet"))
    ctx.layer["sink.files_written"] = len(files)
    ctx.layer["sink.bytes_written"] = sum(p.stat().st_size for p in files)
    ctx.layer["sink.indices_touched"] = len(list((sink_root / "data").glob("es_index=*")))
    tr = ctx.tracer
    ctx.layer["sink.write_s"] = _median0(tr.durations("sink.write"))
    ctx.layer["sink.ensure_indices_s"] = _median0(tr.durations("sink.ensure_indices"))
    ctx.layer["sink.write_errors_s"] = _median0(tr.durations("sink.write_errors"))
    ctx.layer["pipeline.plan_build_s"] = _median0(tr.durations("pipeline.plan_build"))
    ctx.layer["enrich.dim_refresh_s"] = _median0(tr.durations("enrich.dim_refresh"))


def _cut_layers(ctx: Ctx, files: list[Path], decoder) -> None:
    r = layers.cut_replay(ctx.spark, files, decoder, _pipeline_cfg(), ctx.work)
    for name in ("decode", "route", "grok", "enrich", "computed", "sink"):
        ctx.layer[f"{name}.self_s"] = r["self_s"][name]
    ctx.layer["decode.poison_ratio"] = r["poison_ratio"]
    ctx.layer["route.kept_ratio"] = r["kept_ratio"]
    ctx.layer["grok.match_ratio"] = r["match_ratio"]
    ctx.layer["enrich.hit_ratio"] = r["hit_ratio"]
    ctx.report["cut_replay"] = r


# -- ingest_bulk -------------------------------------------------------------
def _drain(ctx: Ctx, src: Path, ck: Path, decoder, dim_provider, sink, records: int) -> dict:
    """One availableNow run of the stream over ``src``."""
    from cga_kinesis_to_elasticsearch_spark.sources.records import read_raw_record_stream
    from cga_kinesis_to_elasticsearch_spark.streaming.job import drain, run_stream

    spark = ctx.spark
    cfg = _stream_config(ck, available_now=True, decoder=decoder)
    t = time.perf_counter()
    query, metrics = run_stream(spark, read_raw_record_stream(spark, str(src)), dim_provider, sink, cfg)
    drain(query, timeout_s=170)
    wall = time.perf_counter() - t
    common.wait_rows(ctx.progress, query, records, 30)
    return {"wall": wall, "query": query, "metrics": metrics, "ck": ck}


def ingest_bulk(ctx: Ctx) -> None:
    from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink
    from cga_kinesis_to_elasticsearch_spark.sources.protowire import decode_protobuf_records

    staged, _ = _setup(
        ctx,
        lambda rep: _ingest_fixture(
            ctx, f"fixture-{rep}", n=BULK_EVENTS, start=BULK_START, spread_s=DAYS * 86400.0,
            codec="protobuf", n_files=BULK_FILES, poison=BULK_POISON, poison_files=1,
        ),
    )
    src = staged.files[0].parent
    ref = ctx.work / "reference"
    con = check.connect()
    # the batch path over the same files: the reference for the checks
    ctx.failed += abs(
        check.write_reference(ctx.spark, staged.files, decode_protobuf_records, _pipeline_cfg(), ref)
        - staged.poison
    )
    # untimed, unchecked drains of the whole backlog: the JIT keeps
    # speeding the stream up over its first drains
    t = time.perf_counter()
    for i in range(BULK_WARM_DRAINS):
        _drain(ctx, src, ctx.work / f"warm-ck-{i}", "arrow", _dim_provider,
               ParquetIndexSink(ctx.work / f"warm-sink-{i}"), staged.records)
    ctx.layer["setup.warmup_s"] = time.perf_counter() - t
    tr = ctx.tracer
    exec_before = _executor_ms_total(tr)
    drains = []
    t_window, wall = time.perf_counter(), 0.0
    with ctx.rss:
        while _more(t_window, wall, ctx.seconds):
            root = ctx.work / f"sink-{len(drains)}"
            decoder, dim_provider, sink = _traced_stream_args(
                ctx, ParquetIndexSink(root), decode_protobuf_records, "arrow"
            )
            d = _drain(ctx, src, ctx.work / f"ck-{len(drains)}", decoder, dim_provider, sink, staged.records)
            drains.append({**d, "root": root})
            wall = d["wall"]
    window = time.perf_counter() - t_window
    tr.restore()

    rates, batches, fresh = [], [], []
    for d in drains:
        mine = ctx.progress.batches(d["query"].id)
        batches.extend(mine)
        busy_s = sum(b["durationMs"]["triggerExecution"] for b in mine) / 1000.0
        rates.append(staged.records / busy_s)
        # the whole backlog is on disk when the first trigger starts
        commit = {b["batchId"]: common.commit_time(b) for b in mine}
        first = min(common.trigger_start(b) for b in mine)
        fresh.extend(commit[bid] - first for bid in _file_batches(d["ck"]).values())
    batch_s = [b["durationMs"]["triggerExecution"] / 1000.0 for b in batches]
    ctx.e2e = {
        "ingest_records_per_s": statistics.median(rates),
        "ingest_batch_p50_s": statistics.median(batch_s),
        "freshness_p50_s": statistics.median(fresh),
    }
    checks = [_check_ingest(ctx, con, d["root"], ref, staged, d["metrics"]) for d in drains]
    ctx.report.update(
        {
            "ingest_records_per_s": {"value": ctx.e2e["ingest_records_per_s"], "unit": "records/s",
                                     "samples": len(rates)},
            "ingest_batch_s": common.timing(batch_s, "s"),
            "freshness_s": common.timing(fresh, "s"),
            "records_per_drain": staged.records,
            "drain_records_per_s": rates,
            "drain_wall_s": [d["wall"] for d in drains],
            "window_s": window,
            "check": checks[-1],
        }
    )
    if tr.enabled:
        ctx.layer["source.backlog_files"] = len(staged.files)
        _stream_layers(ctx, batches, window, exec_before)
        _sink_layers(ctx, drains[-1]["root"])
        _cut_layers(ctx, staged.files[:4], decode_protobuf_records)
        search_layers(ctx, con, drains[-1]["root"])
        ctx.bulk_files = staged.files[:4]


def single_core(ctx: Ctx) -> float:
    """records/s (over batch busy time, as ``ingest_records_per_s``) of
    the bulk drain over one trigger's files at local[1], in a fresh Spark
    context. Stops ``ctx.spark``."""
    from cga_kinesis_to_elasticsearch_spark.session import get_spark
    from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink

    src = ctx.work / "one-core-src"
    src.mkdir()
    for f in ctx.bulk_files:
        shutil.copy(f, src / f.name)
    records = sum(_rows(f) for f in ctx.bulk_files)
    ctx.progress.close()
    ctx.spark.stop()
    cpus = os.environ["SPARK_GRAFT_CPUS"]
    os.environ["SPARK_GRAFT_CPUS"] = "1"
    spark = get_spark("perfbench-1core", extra_conf=SESSION_CONF)
    ctx.spark, ctx.progress = spark, common.ProgressLog(spark)
    try:
        rates = []
        for i in range(2):  # the first drain warms the fresh context
            sink = ParquetIndexSink(ctx.work / f"one-core-sink-{i}")
            d = _drain(ctx, src, ctx.work / f"one-core-ck-{i}", "arrow", _dim_provider, sink, records)
            busy_s = sum(b["durationMs"]["triggerExecution"] for b in ctx.progress.batches(d["query"].id))
            rates.append(records / (busy_s / 1000.0))
        return rates[-1]
    finally:
        ctx.progress.close()
        spark.stop()
        os.environ["SPARK_GRAFT_CPUS"] = cpus


# -- ingest_live -------------------------------------------------------------
def _file_batches(ck: Path) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log
    in the checkpoint."""
    out: dict[str, int] = {}
    for f in sorted((ck / "sources" / "0").iterdir()):
        if f.name.startswith("."):
            continue
        for line in f.read_text().splitlines()[1:]:
            entry = json.loads(line)
            out[Path(entry["path"]).name] = entry["batchId"]
    return out


def _schedule_start(now: float) -> float:
    """First release time: half an interval past a trigger boundary.
    Processing-time triggers fire on multiples of the interval since the
    epoch, so every run releases its files at the same trigger phases."""
    grid = math.ceil(now / LIVE_TRIGGER_S) * LIVE_TRIGGER_S
    if grid - now < 0.5:
        grid += LIVE_TRIGGER_S
    return grid + LIVE_INTERVAL_S / 2


def _release(staged_dir: Path, src: Path, log: Path, seconds: float) -> None:
    """Run the load generator process over the staged files and wait for
    it to end."""
    start = _schedule_start(time.time())
    proc = subprocess.Popen(
        [sys.executable, str(Path(__file__).with_name("loadgen.py")),
         "--staged", str(staged_dir), "--source", str(src),
         "--log", str(log), "--start", repr(start), "--interval", repr(LIVE_INTERVAL_S)],
    )
    try:
        proc.wait(timeout=start - time.time() + seconds * 2 + 60)
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"load generator exited {proc.returncode}")


def ingest_live(ctx: Ctx) -> None:
    from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink
    from cga_kinesis_to_elasticsearch_spark.sources.records import decode_records, read_raw_record_stream
    from cga_kinesis_to_elasticsearch_spark.streaming.job import run_stream

    spark, tr = ctx.spark, ctx.tracer
    start = dt.datetime.now(dt.timezone.utc).replace(microsecond=0)
    # the generator releases one file per interval for the whole window
    n_files = LIVE_WARM_FILES + max(1, round(ctx.seconds / LIVE_INTERVAL_S))
    n_events = int(n_files * LIVE_FILE_RECORDS / (1 + LIVE_DUP_SHARE + LIVE_REDELIVER_SHARE))
    staged, pairs = _setup(
        ctx,
        lambda rep: _ingest_fixture(
            ctx, f"fixture-{rep}", n=n_events, start=start, spread_s=60.0, codec="json",
            n_files=n_files, poison=LIVE_POISON,
            redeliver=int(n_events * LIVE_REDELIVER_SHARE), dups=int(n_events * LIVE_DUP_SHARE),
        ),
    )
    ref = ctx.work / "reference"
    con = check.connect()
    ctx.failed += abs(
        check.write_reference(spark, staged.files, decode_records, _pipeline_cfg(), ref) - staged.poison
    )

    src, root, ck = ctx.work / "source", ctx.work / "sink", ctx.work / "ck"
    src.mkdir()
    decoder, dim_provider, sink = _traced_stream_args(ctx, ParquetIndexSink(root), decode_records, None)
    cfg = _stream_config(
        ck, trigger_seconds=LIVE_TRIGGER_S, decoder=decoder, retention_every_batches=3, days_to_keep=3,
    )
    query, metrics = run_stream(spark, read_raw_record_stream(spark, str(src)), dim_provider, sink, cfg)
    rows = {f.name: _rows(f) for f in staged.files}
    log = ctx.work / "releases.jsonl"
    try:
        # the first files warm the running query; the clock starts after
        t = time.perf_counter()
        for f in staged.files[:LIVE_WARM_FILES]:
            f.rename(src / f.name)
        common.wait_rows(ctx.progress, query, sum(rows[f.name] for f in staged.files[:LIVE_WARM_FILES]), 120)
        ctx.layer["setup.warmup_s"] = time.perf_counter() - t
        n_warm_batches = len(ctx.progress.batches(query.id))
        exec_before = _executor_ms_total(tr)
        t_window = time.time()
        with ctx.rss:
            _release(staged.files[0].parent, src, log, ctx.seconds)
            common.wait_rows(ctx.progress, query, staged.records, 120)
        window = time.time() - t_window
    finally:
        query.stop()
    tr.restore()

    releases = [json.loads(line) for line in log.read_text().splitlines()]
    batches = ctx.progress.batches(query.id)
    measured = batches[n_warm_batches:]
    commit = {b["batchId"]: common.commit_time(b) for b in batches}
    file_batch = _file_batches(ck)
    committed = [commit[file_batch[r["file"]]] for r in releases]
    # open loop: each file is timed from when it was due
    fresh = [c - r["due"] for c, r in zip(committed, releases)]
    gen_stop = max(r["released"] for r in releases)
    late_ms = [(r["released"] - r["due"]) * 1000.0 for r in releases]
    batch_s = [b["durationMs"]["triggerExecution"] / 1000.0 for b in measured]
    ctx.e2e = {
        "ingest_records_per_s": sum(rows[r["file"]] for r in releases) / (max(committed) - releases[0]["due"]),
        "ingest_batch_p50_s": statistics.median(batch_s),
        "freshness_p50_s": statistics.median(fresh),
    }
    c = _check_ingest(ctx, con, root, ref, staged, metrics)
    ctx.report.update(
        {
            "ingest_records_per_s": {"value": ctx.e2e["ingest_records_per_s"], "unit": "records/s",
                                     "samples": len(releases)},
            "ingest_batch_s": common.timing(batch_s, "s"),
            "freshness_s": common.timing(fresh, "s"),
            "backlog_end_files": {"value": sum(1 for x in committed if x > gen_stop), "unit": "files"},
            "offered_files_per_s": 1.0 / LIVE_INTERVAL_S,
            "loadgen_late_ms": {**common.timing(late_ms, "ms", pcts=(50, 99)), "max": max(late_ms)},
            "window_s": window,
            "check": c,
        }
    )
    if tr.enabled:
        ctx.layer["source.backlog_files"] = _median0(_backlog_at(b, releases, file_batch) for b in measured)
        _stream_layers(ctx, measured, window, exec_before)
        _sink_layers(ctx, root)
        ctx.layer["loadgen.late_p99_ms"] = common.percentile(late_ms, 99)
        ctx.failed += _live_hooks(ctx, ref, pairs, con)
        _cut_layers(ctx, sorted(src.glob("*.parquet"))[:4], decode_records)


def _backlog_at(batch: dict, releases: list[dict], file_batch: dict[str, int]) -> int:
    """Files released (warm-up files included) but not yet taken by a
    batch when ``batch`` was triggered."""
    t0 = common.trigger_start(batch)
    warm = len(file_batch) - len(releases)
    released = warm + sum(1 for r in releases if r["released"] <= t0)
    taken = sum(1 for b in file_batch.values() if b < batch["batchId"])
    return released - taken


def _live_hooks(ctx: Ctx, ref: Path, pairs: list[tuple[int, int]], con) -> int:
    """Maintained-state sinks over two micro-batches of the live
    fixture's documents. Returns the number of wrong dedup outcomes.

    The batches split the documents by ``doc_id`` (all of batch 0 sorts
    before batch 1), so under first-seen semantics the survivor of each
    log line is its smallest ``doc_id``."""
    from pyspark.sql import functions as F

    spark, tr = ctx.spark, ctx.tracer
    docs = spark.read.parquet(str(ref))
    batches = [docs.filter(F.col("doc_id") < "8"), docs.filter(F.col("doc_id") >= "8")]
    r = layers.hook_replay(spark, batches, ctx.work, tr, "parsed_generic.log_event", "@cf.app_id")
    for name in ("dedupindex", "upsert", "textindex", "sketchmaint", "hhmaint", "retention"):
        ctx.layer[f"{name}.s"] = _median0(tr.durations(name))
    dropped = r["docs_in"] - r["docs_kept"]
    ctx.layer["dedupindex.dropped_ratio"] = dropped / r["docs_in"] if r["docs_in"] else 0.0
    ctx.layer["dedupindex.state_rows"] = r["dedup_state_rows"]
    ctx.layer["upsert.state_bytes"] = r["upsert_state_bytes"]
    ctx.layer["textindex.state_bytes"] = r["text_state_bytes"]
    src = f"read_parquet('{ref}/*.parquet')"
    expected_dropped = con.execute(
        f"SELECT count(*) FROM (SELECT doc_id, min(doc_id) OVER (PARTITION BY parsed_generic.log_event) AS w "
        f"FROM {src}) WHERE doc_id <> w"
    ).fetchone()[0]
    # log lines landed under two doc_ids must be exactly the injected
    # replicas whose original the pipeline keeps
    shared = con.execute(
        f"SELECT count(*) FROM (SELECT parsed_generic.log_event FROM {src} "
        f"GROUP BY 1 HAVING count(DISTINCT doc_id) > 1)"
    ).fetchone()[0]
    con.execute("CREATE OR REPLACE TEMP TABLE pairs (rep BIGINT, orig BIGINT)")
    con.executemany("INSERT INTO pairs VALUES (?, ?)", pairs)
    injected_kept = con.execute(
        "SELECT count(*) FROM pairs WHERE md5('shard-' || (orig % 4) || '|' || orig) "
        f"IN (SELECT doc_id FROM {src})"
    ).fetchone()[0]
    ctx.report["hook_replay"] = {
        **r, "dropped": dropped, "expected_dropped": expected_dropped,
        "shared_lines": shared, "injected_kept_dups": injected_kept,
    }
    return abs(dropped - expected_dropped) + abs(shared - injected_kept)


# -- the query layer -----------------------------------------------------------
def _files_read(tracer: Tracer, since_execution: int) -> tuple[int, int]:
    """(files read by parquet scans, newest SQL execution id) over the SQL
    executions after ``since_execution``, from the REST API."""
    import urllib.request

    sc = tracer.spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/sql?details=true&length=10000"
    with urllib.request.urlopen(url, timeout=10) as r:
        execs = json.loads(r.read().decode())
    files, newest = 0, since_execution
    for e in execs:
        if e["id"] <= since_execution:
            continue
        newest = max(newest, e["id"])
        for node in e.get("nodes", []):
            if node.get("nodeName", "").startswith("Scan parquet"):
                for m in node.get("metrics", []):
                    if m.get("name") == "number of files read":
                        files += int(str(m.get("value", "0")).replace(",", ""))
    return files, newest


def search_layers(ctx: Ctx, con, sink_root: Path) -> None:
    """Kibana-style requests (searches.py) over the index a drain wrote,
    one closed-loop client: a warm-up cycle, then SEARCH_CYCLES timed
    cycles. Every response is checked against DuckDB."""
    from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink

    spark, tr = ctx.spark, ctx.tracer
    sink = ParquetIndexSink(sink_root)
    con.execute(
        "CREATE OR REPLACE VIEW docs AS SELECT * EXCLUDE (rn) FROM (SELECT *, row_number() OVER "
        f"(PARTITION BY doc_id ORDER BY es_index) AS rn FROM {check.sink_docs_sql(sink_root)}) WHERE rn = 1"
    )
    base_ms = int(BULK_START.replace(tzinfo=dt.timezone.utc).timestamp() * 1000)
    cycles = searches.request_cycles(ctx.seed, base_ms, DAYS)

    def run_one(req: dict, rid: int):
        with tr.span("search.request", request=rid):
            with tr.span("search.read_index"):
                frame = sink.read_index(spark)
            with tr.span("search.compile"):
                df = searches.build(req, frame)
            with tr.span("search.execute"):
                return df.collect()

    done = [(req, run_one(req, -1), 0.0) for req in next(cycles)]
    warm = len(done)
    n_files = len(list((sink_root / "data").rglob("*.parquet")))
    exec_before = tr.executor_ms_by_group()
    last_sql = _files_read(tr, -1)[1]
    for _ in range(SEARCH_CYCLES):
        for req in next(cycles):
            t0 = time.perf_counter()
            rows = run_one(req, len(done))
            done.append((req, rows, time.perf_counter() - t0))
    timed = done[warm:]
    files_read, _ = _files_read(tr, last_sql)
    grp = "bench:search.execute"
    executor_ms = tr.executor_ms_by_group().get(grp, 0.0) - exec_before.get(grp, 0.0)
    for req, rows, _ in done:
        ctx.attempted += 1
        try:
            ok = searches.normalise_response(req, rows) == searches.normalise_sql(
                req, con.execute(req["sql"]).fetchall()
            )
        except Exception as exc:  # a response that cannot be read counts as wrong
            print(f"check failed for {req['kind']}: {exc!r}", file=sys.stderr)
            ok = False
        if not ok:
            ctx.failed += 1
            print(f"wrong response: {req['kind']}", file=sys.stderr)
    timed_ids = {s["id"] for s in tr.spans if s["name"] == "search.request" and s["request"] >= warm}

    def med_ms(name: str) -> float:
        return _median0(
            (s["end"] - s["start"]) * 1000.0 for s in tr.spans if s["name"] == name and s["parent"] in timed_ids
        )

    ctx.layer["search.compile_ms"] = med_ms("search.compile")
    ctx.layer["search.execute_ms"] = med_ms("search.execute")
    ctx.layer["search.files_read_ratio"] = files_read / (n_files * len(timed))
    ctx.layer["search.executor_ms"] = executor_ms / len(timed)
    # the read-back on its own: parquet scan + dropDuplicates(doc_id)
    ctx.layer["search.read_index_ms"] = 1000.0 * layers.timed_median(
        lambda: layers.noop_write(sink.read_index(spark))
    )
    lat_ms = [s * 1000.0 for _, _, s in timed]
    by_kind: dict[str, list[float]] = {}
    for req, _, s in timed:
        by_kind.setdefault(req["kind"], []).append(s * 1000.0)
    ctx.report["search"] = {
        "search_ms": common.timing(lat_ms, "ms"),
        "search_ms_by_kind": {k: statistics.median(v) for k, v in by_kind.items()},
        "requests_checked": len(done),
        "index_files": n_files,
    }
