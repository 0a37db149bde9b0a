"""The streaming job: readStream -> decode -> pipeline -> bulk sink
(SURVEY §3.1 Spark shape, §2.9 T1-T7).

Maps the reference's RunForever loop (main.go:111-212) onto Structured
Streaming:

- micro-batch trigger 15 s  <- BulkProcessor FlushInterval (main.go:189)
- checkpointLocation        <- Postgres/DynamoDB sequence store (S2-S4);
  offset+commit logs give the same resume-after-crash, with a tighter
  replay window than the reference's 60 s write-behind flush (T1)
- per-batch dimension refresh <- TTL'd lazy-fill cache (J5): the dim
  provider is called once per micro-batch on the driver and broadcast
  into the join — row-level TTL/jitter disappears because the whole
  snapshot refreshes atomically
- poison records -> error bucket + counter <- checkpoint-then-abort
  skip (T2, consumer.go:213-232): same observable outcome (record
  skipped, error counted), no process restart
- sent/error counters       <- Prometheus counters (A1, main.go:41-47),
  exposed in Prometheus text format (K5)

Everything inside ``foreachBatch`` is the SAME pure batch code the
DuckDB oracle checks (pipeline.run_pipeline) — batch/stream parity by
construction.
"""

from __future__ import annotations

import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.util import inheritable_thread_target

from ..pipeline import PipelineConfig, run_pipeline
from ..sinks.bulk import ParquetIndexSink
from ..sources.records import decode_records

__all__ = [
    "StreamConfig",
    "StreamMetrics",
    "ObservedCounters",
    "run_stream",
]


class ObservedCounters:
    """A1 via the Spark-native path: ``df.observe`` on the source +
    a StreamingQueryListener reading ``progress.observedMetrics`` —
    per-batch record counts with zero extra actions (the metric rides
    the existing job). Complements StreamMetrics (which counts the
    pipeline's sent/error outcomes inside foreachBatch).

    Use: ``listener = ObservedCounters.install(spark)``; pass
    ``observe_records=True`` to run_stream; read
    ``listener.records_in``. Remove with ``uninstall``.
    """

    OBSERVATION = "records_in"

    def __init__(self) -> None:
        self.records_in = 0
        self._listener = None

    @classmethod
    def install(cls, spark: SparkSession) -> "ObservedCounters":
        from pyspark.sql.streaming import StreamingQueryListener

        self = cls()

        class _L(StreamingQueryListener):
            def onQueryStarted(inner, event) -> None:  # noqa: N805
                pass

            def onQueryProgress(inner, event) -> None:  # noqa: N805
                om = event.progress.observedMetrics
                row = om.get(cls.OBSERVATION)
                if row is not None:
                    self.records_in += row["n"] or 0

            def onQueryIdle(inner, event) -> None:  # noqa: N805
                pass

            def onQueryTerminated(inner, event) -> None:  # noqa: N805
                pass

        self._listener = _L()
        self._spark = spark
        spark.streams.addListener(self._listener)
        return self

    def uninstall(self) -> None:
        if self._listener is not None:
            self._spark.streams.removeListener(self._listener)
            self._listener = None


@dataclass
class StreamMetrics:
    """A1: the two monotonic counters (main.go:41-47)."""

    sent_count: int = 0
    errors_count: int = 0
    # set by run_stream when StreamConfig.metrics_listen is configured
    # (K5); caller stops it with metrics.http_server.stop()
    http_server: object | None = None

    def prometheus_text(self) -> str:
        """K5: Prometheus exposition format, as served on /metrics
        (main.go:181-187)."""
        return (
            "# TYPE app_kinesis_to_es_sent_count counter\n"
            f"app_kinesis_to_es_sent_count {self.sent_count}\n"
            "# TYPE app_kinesis_to_es_errors_count counter\n"
            f"app_kinesis_to_es_errors_count {self.errors_count}\n"
        )


@dataclass
class StreamConfig:
    checkpoint_location: str = ""
    trigger_seconds: int = 15  # FlushInterval, main.go:189
    # K5: serve /metrics in Prometheus exposition format while the
    # stream runs (METRICS_LISTEN, main.go:181-187,551). "" = off;
    # ":0" binds an ephemeral port (tests read metrics.http_server.url).
    metrics_listen: str = ""
    available_now: bool = False  # drain-and-stop, for tests/backfills
    pipeline: PipelineConfig = field(default_factory=PipelineConfig)
    days_to_keep: int = 3  # DAYS_TO_KEEP, main.go:553
    retention_every_batches: int = 0  # 0 = off; reference runs 24-hourly
    # Payload decoder: raw records -> RECORD_SCHEMA + decode_error.
    # None/"json" = the from_json stand-in; "arrow" = the Arrow-batched
    # protobuf wire codec (sources/protowire.py); "jvm" = Spark's
    # from_protobuf against the compiled Envelope descriptor
    # (sources/protodesc.py) — 100% codegen, falling back LOUDLY to
    # "arrow" when the optional spark-protobuf module is absent. A
    # callable is used as-is.
    decoder: Callable[[DataFrame], DataFrame] | str | None = None
    # Continuous-aggregate maintenance (sinks/rollup.py): after each
    # batch commits, recompute the rollup for ONLY the index partitions
    # the batch touched. Off unless both are set.
    rollup_path: str = ""
    rollup_aggregate: Callable[[DataFrame], DataFrame] | None = None
    # Mergeable-sketch maintenance (sinks/sketchmaint.py): per batch,
    # union the batch's per-index HLL key sketches into stored per-index
    # sketches — distinct counts kept fresh with NO fact rescans, and
    # idempotent under at-least-once replay (HLL set semantics). Off
    # unless both are set.
    sketch_path: str = ""
    sketch_key_col: str = ""
    # Heavy-hitters maintenance (sinks/hhmaint.py): per batch, merge
    # the batch's key frequencies into a stored k-entry Misra-Gries
    # summary — the stream's dominant keys, kept fresh with no fact
    # rescans. Additive merge => at-least-once replays double-count
    # (same caveat as rollup counters). Off unless both are set.
    hh_path: str = ""
    hh_key_col: str = ""
    hh_k: int = 100
    # Latest-state upsert table (sinks/upsert.py): per batch, merge the
    # batch's documents into a keyed current-state table (max-seq wins,
    # replay/out-of-order safe) — "the newest document per app/route",
    # maintained incrementally. Off unless path and key are set.
    upsert_path: str = ""
    upsert_key_col: str = ""
    upsert_seq_col: str = "timestamp"
    # Incremental full-text index (sinks/textindex.py): per batch,
    # merge the batch documents' postings into the persisted inverted
    # index — the stream becomes BM25/phrase-searchable as it lands,
    # the reference's Elasticsearch promise served by the engine
    # itself. text_index_col names the document text field to index —
    # nested paths work plainly ("parsed_generic.log_event"); quote
    # literal-dot column names with backticks ("`@cf.app`"). Off
    # unless both are set.
    text_index_path: str = ""
    text_index_col: str = ""
    # Per-batch data-quality report (operators/expectations.py): after
    # the sink write, evaluate the suite against the batch's documents
    # and write (expectation, metric, threshold, passed) rows into a
    # batch_id=<n> partition of dq_path (overwritten on at-least-once
    # replay, so re-delivered batches leave no duplicate rows) —
    # constraint drift becomes a queryable table.
    # Row-level constraints only (FK needs a second table; run those
    # against the SINK with the standalone operator). Off unless both
    # are set.
    dq_path: str = ""
    dq_specs: "list | None" = None
    # Cross-batch content dedup (sinks/dedupindex.py): before the sink
    # write, drop documents whose content hash was already indexed by
    # ANY earlier batch; first-id semantics keep replays idempotent.
    # Off unless both are set. dedup_text_col is a column of the FINAL
    # document (a parsed field like "parsed_generic.log_event" or a
    # scalar like "file_path" — the nested log_message struct is
    # dropped before the hook runs); dedup_index_path stores the
    # (hash, first_id) table.
    dedup_index_path: str = ""
    dedup_text_col: str = ""
    # Cross-batch NEAR-dup (sinks/neardupindex.py): same hook shape as
    # the exact index but keyed on MinHash LSH bands — drops documents
    # near-duplicating any earlier batch's survivor. Runs AFTER the
    # exact hook when both are on (exact is cheaper; fuzzy only sees
    # content-distinct docs).
    neardup_index_path: str = ""
    neardup_text_col: str = ""
    neardup_n_hashes: int = 4
    neardup_band_size: int = 2


def _resolve_decoder(spark: SparkSession, decoder) -> Callable:
    """Resolve StreamConfig.decoder (callable or "json"/"arrow"/"jvm")
    to the decode callable, ONCE at job start (the "jvm" probe touches
    the classpath; see sources/protodesc.select_protobuf_decoder)."""
    if decoder is None or decoder == "json":
        return decode_records
    if callable(decoder):
        return decoder
    from ..sources.protodesc import select_protobuf_decoder

    return select_protobuf_decoder(spark, decoder)


def run_stream(
    spark: SparkSession,
    raw_stream: DataFrame,
    dim_provider: Callable[[SparkSession], DataFrame],
    sink: ParquetIndexSink,
    cfg: StreamConfig,
    metrics: StreamMetrics | None = None,
    observe_records: bool = False,
):
    """Start the streaming query; returns (query, metrics).

    ``raw_stream``: RAW_RECORD_SCHEMA streaming DataFrame (file source
    in tests, Kinesis connector in production — same columns).
    ``dim_provider``: called per micro-batch; returns the flattened
    dimension snapshot (operators.enrichment.flatten_dimensions).
    """
    m = metrics if metrics is not None else StreamMetrics()
    if cfg.metrics_listen and m.http_server is None:
        from .metrics_http import MetricsServer

        m.http_server = MetricsServer(m, cfg.metrics_listen).start()
    decode = _resolve_decoder(spark, cfg.decoder)
    if observe_records:
        raw_stream = raw_stream.observe(
            ObservedCounters.OBSERVATION, F.count(F.lit(1)).alias("n")
        )
    batch_counter = {"n": 0}

    def process_batch(raw: DataFrame, batch_id: int) -> None:
        # Decode once per batch; the good/poison split and the poison
        # counter read the decoded frame, so cache it (bounded by
        # trigger x arrival rate; availableNow backfills are capped by
        # maxFilesPerTrigger). NOTE: df.observe + Observation.get
        # cannot replace the poison count here — inside foreachBatch
        # the observed metrics ride the STREAMING progress, not the
        # per-batch query, and Observation.get throws (pinned by
        # TestErrorReplay, which runs an all-poison batch).
        records = decode(raw).persist()
        try:
            poison = records.filter(F.col("decode_error"))
            good = records.filter(~F.col("decode_error")).drop(
                "decode_error", "data"
            )
            dim = dim_provider(spark)
            docs = run_pipeline(good, dim, cfg.pipeline)
            # persist BEFORE the dedup hook: the index update is its own
            # action, and the survivors filter re-reads the cached
            # pipeline output instead of re-running grok/enrichment
            cached = docs.drop("log_message", "arrival_ts").persist()
            docs = cached
            if cfg.dedup_index_path and cfg.dedup_text_col:
                from ..sinks.dedupindex import dedup_against_index

                # persist the survivors too: the index join otherwise
                # re-executes for each downstream action (touched-index
                # collect, sink write, sent count)
                docs = dedup_against_index(
                    spark,
                    cached,
                    cfg.dedup_index_path,
                    cfg.dedup_text_col,
                    "doc_id",
                ).persist()
            if cfg.neardup_index_path and cfg.neardup_text_col:
                from ..sinks.neardupindex import neardup_against_index

                docs = neardup_against_index(
                    spark,
                    docs,
                    cfg.neardup_index_path,
                    cfg.neardup_text_col,
                    "doc_id",
                    n_hashes=cfg.neardup_n_hashes,
                    band_size=cfg.neardup_band_size,
                ).persist()
            try:
                # ONE aggregation serves the touched-index set AND the
                # sent counter (previously a distinct.collect plus a
                # separate count — one extra job per micro-batch); the
                # per-index counts are also the shared small input for
                # the maintained-state hooks below
                idx_counts = (
                    docs.groupBy("es_index")
                    .agg(F.count(F.lit(1)).alias("__n"))
                    .collect()
                )
                touched = [r["es_index"] for r in idx_counts]
                sink.ensure_indices(touched)
                # the poison count only reads the populated records
                # cache — submit it concurrently so it back-fills the
                # sink write's task tail (guide §2.6) instead of
                # running as its own serial job afterwards. The wrapper
                # copies this thread's Spark local properties (the
                # stream's job group and description) into the pool
                # thread, so cancel and per-group attribution cover it.
                with ThreadPoolExecutor(max_workers=1) as pool:
                    poison_fut = pool.submit(
                        inheritable_thread_target(spark)(poison.count)
                    )
                    # the idx_counts aggregation already knows the
                    # batch's largest index — let the sink scale its
                    # file fan-out to it (small batch -> 1 file/index)
                    sink.write(
                        docs,
                        max_rows_per_index=max(
                            (r["__n"] for r in idx_counts), default=0
                        ),
                    )
                    n_poison = poison_fut.result()
                m.sent_count += sum(r["__n"] for r in idx_counts)
                if cfg.sketch_path and cfg.sketch_key_col:
                    from ..sinks.sketchmaint import refresh_day_sketches

                    refresh_day_sketches(
                        spark,
                        docs,
                        cfg.sketch_path,
                        day_col="es_index",
                        key_col=cfg.sketch_key_col,
                    )
                if cfg.hh_path and cfg.hh_key_col:
                    from ..sinks.hhmaint import refresh_heavy_hitters

                    refresh_heavy_hitters(
                        spark,
                        docs,
                        cfg.hh_path,
                        key_col=cfg.hh_key_col,
                        k=cfg.hh_k,
                    )
                if cfg.upsert_path and cfg.upsert_key_col:
                    from ..sinks.upsert import apply_upserts

                    apply_upserts(
                        spark,
                        docs,
                        cfg.upsert_path,
                        key_col=cfg.upsert_key_col,
                        seq_col=cfg.upsert_seq_col,
                        tiebreak_col="doc_id",
                    )
                if cfg.text_index_path and cfg.text_index_col:
                    from ..sinks.textindex import append_to_text_index

                    append_to_text_index(
                        spark,
                        docs.select(
                            "doc_id",
                            F.col(cfg.text_index_col).alias("text"),
                        ).filter(F.col("text").isNotNull()),
                        cfg.text_index_path,
                        text_col="text",
                        id_col="doc_id",
                    )
                if cfg.dq_path and cfg.dq_specs:
                    from ..operators.expectations import check_expectations

                    # one hive-partition dir per batch_id, overwritten in
                    # place: an at-least-once replay rewrites its own
                    # partition instead of appending duplicate rows
                    report = check_expectations(docs, cfg.dq_specs)
                    report.coalesce(1).write.mode("overwrite").parquet(
                        f"{cfg.dq_path}/batch_id={int(batch_id)}"
                    )
            finally:
                if docs is not cached:
                    docs.unpersist()
                cached.unpersist()
            if cfg.rollup_path and cfg.rollup_aggregate is not None:
                from ..sinks.rollup import refresh_rollup

                refresh_rollup(
                    spark,
                    sink.root / "data",
                    cfg.rollup_path,
                    touched,
                    cfg.rollup_aggregate,
                    date_col="es_index",
                )
            if n_poison:
                sink.write_errors(poison.drop("decode_error"), batch_id)
                m.errors_count += n_poison
        finally:
            records.unpersist()
        batch_counter["n"] += 1
        if (
            cfg.retention_every_batches
            and batch_counter["n"] % cfg.retention_every_batches == 0
        ):
            sink.drop_expired(cfg.days_to_keep)

    writer = raw_stream.writeStream.foreachBatch(process_batch).option(
        "checkpointLocation", cfg.checkpoint_location
    )
    if cfg.available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{cfg.trigger_seconds} seconds")
    query = writer.start()
    return query, m


def drain(query, timeout_s: float = 120.0) -> None:
    """Await an availableNow query (tests/backfills); graceful-shutdown
    analogue of the reference's SIGTERM -> flush path (T6)."""
    deadline = time.time() + timeout_s
    while query.isActive and time.time() < deadline:
        # fine-grained poll: a 1 s granularity adds up to a second of
        # dead time after the last commit of an availableNow run
        query.awaitTermination(0.05)
    if query.isActive:
        query.stop()
        raise TimeoutError("streaming query did not drain in time")
    if query.exception() is not None:
        raise query.exception()
