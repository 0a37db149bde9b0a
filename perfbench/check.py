"""Output checks, in DuckDB over the parquet files the engine wrote.

Landed documents are compared with the batch ``run_pipeline`` over the
same generated records (the path the repository's DuckDB oracle
verifies). Search responses are compared with SQL over the sink's
parquet files, deduplicated by ``doc_id``.
"""

from __future__ import annotations

from pathlib import Path

import duckdb

DOC_KEY = [
    "doc_id",
    "es_index",
    '"timestamp"',
    "file_path",
    '"@cf.env"',
    '"@cf.app"',
    '"@cf.app_id"',
    '"@cf.space"',
    '"@cf.space_id"',
    '"@cf.org"',
    '"@cf.org_id"',
    "parsed_generic.log_event",
]


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    return con


def sink_docs_sql(sink_root: Path) -> str:
    return (
        f"read_parquet('{sink_root}/data/*/*.parquet', hive_partitioning = true)"
    )


def write_reference(spark, files: list[Path], decoder, pipeline_cfg, out: Path) -> int:
    """Batch path over the same record files: decode, drop poison,
    ``run_pipeline``, and keep the columns the stream lands. Returns the
    number of poison records the decoder flagged."""
    from pyspark.sql import functions as F

    from cga_kinesis_to_elasticsearch_spark.operators.enrichment import flatten_dimensions
    from cga_kinesis_to_elasticsearch_spark.pipeline import run_pipeline
    from cga_kinesis_to_elasticsearch_spark.sources.envelopes import synthesize_cf_dimensions
    from cga_kinesis_to_elasticsearch_spark.sources.records import RAW_RECORD_SCHEMA

    raw = spark.read.schema(RAW_RECORD_SCHEMA).parquet(*[str(f) for f in files])
    records = decoder(raw).persist()
    try:
        good = records.filter(~F.col("decode_error")).drop("decode_error", "data")
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark))
        docs = run_pipeline(good, dim, pipeline_cfg).drop("log_message", "arrival_ts")
        docs.write.mode("overwrite").parquet(str(out))
        return records.filter(F.col("decode_error")).count()
    finally:
        records.unpersist()


def check_landed(
    con, sink_root: Path, ref_dir: Path, redelivered: list[tuple[str, str]]
) -> dict:
    """Compare the sink's documents with the reference.

    ``redelivered`` holds the (shard_id, sequence_number) of every record
    the generator delivered twice. A re-delivery of a kept record lands a
    second copy of the same ``doc_id``; ``read_index`` drops it."""
    cols = ", ".join(DOC_KEY)
    landed = sink_docs_sql(sink_root)
    ref = f"read_parquet('{ref_dir}/*.parquet')"
    missing = con.execute(
        f"SELECT count(*) FROM (SELECT DISTINCT {cols} FROM {ref} EXCEPT SELECT DISTINCT {cols} FROM {landed})"
    ).fetchone()[0]
    extra = con.execute(
        f"SELECT count(*) FROM (SELECT DISTINCT {cols} FROM {landed} EXCEPT SELECT DISTINCT {cols} FROM {ref})"
    ).fetchone()[0]
    l_rows, l_docs = con.execute(
        f"SELECT count(*), count(DISTINCT doc_id) FROM {landed}"
    ).fetchone()
    r_rows, r_docs = con.execute(
        f"SELECT count(*), count(DISTINCT doc_id) FROM {ref}"
    ).fetchone()
    # re-deliveries whose record the pipeline keeps, by the doc_id rule
    # of run_pipeline: md5(shard_id || '|' || sequence_number)
    con.execute("CREATE OR REPLACE TEMP TABLE redelivered (shard_id VARCHAR, seq VARCHAR)")
    if redelivered:
        con.executemany("INSERT INTO redelivered VALUES (?, ?)", redelivered)
    kept_redeliveries = con.execute(
        f"SELECT count(*) FROM redelivered WHERE md5(shard_id || '|' || seq) IN (SELECT doc_id FROM {ref})"
    ).fetchone()[0]
    return {
        "docs": l_docs,
        "ref_docs": r_docs,
        "missing": missing,
        "extra": extra,
        "landed_dups": l_rows - l_docs,
        "ref_dups": r_rows - r_docs,
        "injected_kept_dups": kept_redeliveries,
    }


def landed_failures(c: dict) -> int:
    """Wrong documents: missing, extra, or re-deliveries not accounted."""
    return (
        c["missing"]
        + c["extra"]
        + abs(c["landed_dups"] - c["injected_kept_dups"])
        + abs(c["ref_dups"] - c["injected_kept_dups"])
    )


def error_bucket_rows(con, sink_root: Path) -> int:
    path = sink_root / "_errors"
    if not path.exists():
        return 0
    return con.execute(
        f"SELECT count(*) FROM read_parquet('{path}/*/*.parquet', hive_partitioning = true)"
    ).fetchone()[0]
