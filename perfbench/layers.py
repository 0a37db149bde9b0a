"""Per-layer measurements made only in the traced run.

``cut_replay`` times cumulative cuts over one micro-batch of input:
scan, +decode, +filter/route, +grok, +enrich, +computed columns and
``doc_id`` (the whole ``run_pipeline``), +``sink.write``. Each cut calls
the layer's public function and is forced with a noop write, so a
layer's self time is its cut minus the cut before it.

``hook_replay`` runs the maintained-state sinks the streaming job can
call after its sink write on two consecutive micro-batches of documents,
through the same public functions ``process_batch`` calls.
"""

from __future__ import annotations

import statistics
import time
from pathlib import Path

CUT_REPEATS = 3


def noop_write(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed_median(fn, repeats: int = CUT_REPEATS) -> float:
    samples = []
    for _ in range(repeats):
        t = time.perf_counter()
        fn()
        samples.append(time.perf_counter() - t)
    return statistics.median(samples)


def cut_replay(spark, files: list[Path], decoder, pipeline_cfg, work: Path) -> dict:
    from pyspark.sql import functions as F

    from cga_kinesis_to_elasticsearch_spark.grok import default_grok
    from cga_kinesis_to_elasticsearch_spark.grok.spark import grok_parse_many
    from cga_kinesis_to_elasticsearch_spark.operators.enrichment import enrich, flatten_dimensions
    from cga_kinesis_to_elasticsearch_spark.operators.routing import (
        ROUTE_TABLE,
        filter_log_messages,
        route,
    )
    from cga_kinesis_to_elasticsearch_spark.pipeline import run_pipeline
    from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink
    from cga_kinesis_to_elasticsearch_spark.sources.envelopes import synthesize_cf_dimensions
    from cga_kinesis_to_elasticsearch_spark.sources.records import RAW_RECORD_SCHEMA

    dim = flatten_dimensions(*synthesize_cf_dimensions(spark))
    patterns = sorted(
        {r.pattern for _, r in ROUTE_TABLE if r.enabled or pipeline_cfg.enable_disabled_routes}
    )

    def scan():
        return spark.read.schema(RAW_RECORD_SCHEMA).parquet(*[str(f) for f in files])

    def decoded():
        return decoder(scan())

    def good():
        return decoded().filter(~F.col("decode_error")).drop("decode_error", "data")

    def routed():
        return route(filter_log_messages(good()), pipeline_cfg.enable_disabled_routes)

    def grokked():
        return grok_parse_many(
            default_grok(),
            routed(),
            F.col("log_message.message"),
            [(f"parsed_{p.lower()}", p, F.col("grok_pattern") == p) for p in patterns],
            memo_condition_key="grok_pattern_eq",
        )

    def enriched():
        df = grokked().filter(F.coalesce(F.col("log_message.app_id"), F.lit("")) != "")
        return enrich(df, dim, pipeline_cfg.allowed_origins)

    def full():
        return run_pipeline(good(), dim, pipeline_cfg)

    cuts = {
        "scan": scan,
        "decode": decoded,
        "route": routed,
        "grok": grokked,
        "enrich": enriched,
        "computed": full,
    }
    secs = {name: timed_median(lambda f=f: noop_write(f())) for name, f in cuts.items()}
    sink_runs = iter(range(CUT_REPEATS))

    def write():
        ParquetIndexSink(work / f"cut-sink-{next(sink_runs)}").write(
            full().drop("log_message", "arrival_ts")
        )

    secs["sink"] = timed_median(write)
    order = list(secs)
    self_s = {
        name: secs[name] - (secs[order[i - 1]] if i else 0.0) for i, name in enumerate(order)
    }

    n_raw = scan().count()
    n_poison = decoded().filter(F.col("decode_error")).count()
    n_good = n_raw - n_poison
    n_routed = routed().count()
    g = grokked()
    n_matched = g.filter(F.col(f"parsed_{patterns[0].lower()}").isNotNull()).count()
    e = enriched()
    n_enriched = e.count()
    n_hit = e.filter(F.coalesce(F.col("`@cf.app`"), F.lit("")) != "").count()
    return {
        "cut_s": secs,
        "self_s": self_s,
        "records": n_raw,
        "poison_ratio": n_poison / n_raw if n_raw else 0.0,
        "kept_ratio": n_routed / n_good if n_good else 0.0,
        "match_ratio": n_matched / n_routed if n_routed else 0.0,
        "hit_ratio": n_hit / n_enriched if n_enriched else 0.0,
    }


def _dir_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*") if p.is_file()) if root.exists() else 0


def hook_replay(spark, batches: list, work: Path, tracer, text_col: str, key_col: str) -> dict:
    """Run each maintained-state sink over ``batches`` (document frames,
    one per micro-batch) in the order ``process_batch`` runs them."""
    from pyspark.sql import functions as F

    from cga_kinesis_to_elasticsearch_spark.sinks import dedupindex, hhmaint, sketchmaint, textindex, upsert
    from cga_kinesis_to_elasticsearch_spark.sinks.bulk import ParquetIndexSink

    sink = ParquetIndexSink(work / "hook-sink")
    paths = {k: work / f"hook-{k}" for k in ("dedup", "upsert", "text", "sketch", "hh")}
    n_in = n_out = 0
    for i, docs in enumerate(batches):
        docs = docs.persist()
        n_in += docs.count()
        with tracer.span("dedupindex", batch=i):
            kept = dedupindex.dedup_against_index(
                spark, docs, paths["dedup"], text_col, "doc_id"
            ).persist()
            n_out += kept.count()
        sink.write(kept)
        with tracer.span("sketchmaint", batch=i):
            sketchmaint.refresh_day_sketches(
                spark, kept, paths["sketch"], day_col="es_index", key_col=key_col
            )
        with tracer.span("hhmaint", batch=i):
            hhmaint.refresh_heavy_hitters(spark, kept, paths["hh"], key_col=key_col, k=100)
        with tracer.span("upsert", batch=i):
            upsert.apply_upserts(
                spark, kept, paths["upsert"], key_col=key_col, seq_col="timestamp", tiebreak_col="doc_id"
            )
        with tracer.span("textindex", batch=i):
            textindex.append_to_text_index(
                spark,
                kept.select("doc_id", F.col(text_col).alias("text")).filter(
                    F.col("text").isNotNull()
                ),
                paths["text"],
                text_col="text",
                id_col="doc_id",
            )
        with tracer.span("retention", batch=i):
            sink.drop_expired(3)
        kept.unpersist()
        docs.unpersist()
    return {
        "docs_in": n_in,
        "docs_kept": n_out,
        "dedup_state_rows": dedupindex.read_index(spark, paths["dedup"], id_type="string").count(),
        "upsert_state_bytes": _dir_bytes(paths["upsert"]),
        "text_state_bytes": _dir_bytes(paths["text"]),
    }
