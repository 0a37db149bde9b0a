"""Backfill / reprocessing job (sinks/backfill.py)."""

from __future__ import annotations

from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators.enrichment import (
    flatten_dimensions,
)
from cga_kinesis_to_elasticsearch_spark.pipeline import (
    PipelineConfig,
    run_pipeline,
)
from cga_kinesis_to_elasticsearch_spark.sinks._swap import part_paths
from cga_kinesis_to_elasticsearch_spark.sinks.backfill import (
    BackfillStats,
    backfill,
)
from cga_kinesis_to_elasticsearch_spark.sources.envelopes import (
    ALLOWED_ORIGINS,
    synthesize_cf_dimensions,
    synthesize_envelopes,
)


class TestBackfill:
    def test_reprocess_replaces_and_adds_partitions(
        self, spark, sf_dir, tmp_path
    ):
        records = synthesize_envelopes(spark, sf_dir)
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark)).cache()
        root = tmp_path / "sink" / "data"

        # initial state: enabled-only routes (the reference's config)
        cfg_v1 = PipelineConfig(allowed_origins=ALLOWED_ORIGINS)
        run_pipeline(records, dim, cfg_v1).drop(
            "log_message", "arrival_ts"
        ).write.partitionBy("es_index").parquet(str(root))
        v1_partitions = {
            p.name for p in root.iterdir() if p.name.startswith("es_index=")
        }

        # "pipeline fix": resurrect the disabled routes, reprocess all
        cfg_v2 = PipelineConfig(
            allowed_origins=ALLOWED_ORIGINS, enable_disabled_routes=True
        )
        stats = backfill(spark, records, dim, root, cfg_v2)

        expected = run_pipeline(records, dim, cfg_v2).drop(
            "log_message", "arrival_ts"
        )
        got = spark.read.parquet(str(root))
        assert stats.docs_written == expected.count() == got.count()
        assert stats.partitions_replaced == len(v1_partitions)
        assert stats.partitions_added > 0  # new gorouter_access/bosh days
        # recomputed content matches the direct pipeline output
        assert (
            got.select(F.sha1(F.concat_ws("|", "doc_id", "es_index")).alias("k"))
            .agg(F.md5(F.concat_ws(",", F.sort_array(F.collect_list("k")))))
            .first()[0]
            == expected.select(
                F.sha1(F.concat_ws("|", "doc_id", "es_index")).alias("k")
            )
            .agg(F.md5(F.concat_ws(",", F.sort_array(F.collect_list("k")))))
            .first()[0]
        )
        # no staging/temp debris left behind
        assert not any(p.name.startswith(".tmp-") for p in root.iterdir())

    def test_untouched_partitions_survive(self, spark, sf_dir, tmp_path):
        records = synthesize_envelopes(spark, sf_dir)
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark)).cache()
        root = tmp_path / "data"
        cfg = PipelineConfig(
            allowed_origins=ALLOWED_ORIGINS, enable_disabled_routes=True
        )
        run_pipeline(records, dim, cfg).drop(
            "log_message", "arrival_ts"
        ).write.partitionBy("es_index").parquet(str(root))
        all_parts = {
            p.name for p in root.iterdir() if p.name.startswith("es_index=")
        }
        # backfill only a slice of days: other partitions stay intact
        some_day = records.select(
            F.date_format("arrival_ts", "yyyy-MM-dd").alias("d")
        ).first()[0]
        slice_records = records.filter(
            F.date_format("arrival_ts", "yyyy-MM-dd") == some_day
        )
        stats = backfill(spark, slice_records, dim, root, cfg)
        assert stats.partitions_added == 0
        assert 0 < stats.partitions_replaced < len(all_parts)
        after = {
            p.name for p in root.iterdir() if p.name.startswith("es_index=")
        }
        assert after == all_parts

    def test_empty_result_changes_nothing(self, spark, sf_dir, tmp_path):
        records = synthesize_envelopes(spark, sf_dir)
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark)).cache()
        root = tmp_path / "data"
        cfg = PipelineConfig(allowed_origins=ALLOWED_ORIGINS)
        run_pipeline(records, dim, cfg).drop(
            "log_message", "arrival_ts"
        ).write.partitionBy("es_index").parquet(str(root))

        def snapshot():
            return {
                p.name: sorted(f.name for f in p.iterdir())
                for p in root.iterdir()
                if p.is_dir()
            }

        before = snapshot()
        stats = backfill(spark, records.limit(0), dim, root, cfg)
        assert stats == BackfillStats()
        assert snapshot() == before

    def test_interrupted_swap_restores_untouched_partition(
        self, spark, sf_dir, tmp_path
    ):
        records = synthesize_envelopes(spark, sf_dir)
        dim = flatten_dimensions(*synthesize_cf_dimensions(spark)).cache()
        root = tmp_path / "data"
        cfg = PipelineConfig(allowed_origins=ALLOWED_ORIGINS)
        backfill(spark, records, dim, root, cfg)
        some_day = records.select(
            F.date_format("arrival_ts", "yyyy-MM-dd").alias("d")
        ).first()[0]
        slice_records = records.filter(
            F.date_format("arrival_ts", "yyyy-MM-dd") == some_day
        )
        victim = next(
            p.name
            for p in sorted(root.iterdir())
            if p.name.startswith("es_index=") and some_day not in p.name
        )
        want = spark.read.parquet(str(root / victim)).count()
        # crash window of an earlier swap: final renamed away, new
        # content never landed
        final, _, old = part_paths(root, victim)
        final.rename(old)
        stats = backfill(spark, slice_records, dim, root, cfg)
        assert stats.partitions_added == 0 and stats.partitions_replaced > 0
        # the last durable content came back although the rerun did
        # not touch that partition
        assert spark.read.parquet(str(final)).count() == want
        assert not any(
            p.name.startswith((".tmp-", ".old-")) for p in root.iterdir()
        )
        expected = run_pipeline(records, dim, cfg).drop(
            "log_message", "arrival_ts"
        )
        assert spark.read.parquet(str(root)).count() == expected.count()
