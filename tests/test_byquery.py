"""_delete_by_query / _update_by_query over the partitioned lake
(sinks/byquery.py): query-DSL-driven touched-partition rewrites,
schema preservation, idempotence, crash-safe swap reuse."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.sinks.byquery import (
    delete_by_query,
    update_by_query,
)


def _write_lake(spark, root):
    df = spark.createDataFrame(
        [(1, "a", "keep", 10), (2, "a", "drop", 20),
         (3, "b", "keep", 30), (4, "b", "keep", 40),
         (5, "c", "drop", 50)],
        "doc_id long, es_index string, status string, n long",
    )
    df.write.partitionBy("es_index").mode("overwrite").parquet(str(root))
    return df


class TestDeleteByQuery:
    def test_deletes_only_matching_and_touched_partitions(
        self, spark, tmp_path
    ):
        root = tmp_path / "lake"
        _write_lake(spark, root)
        stats = delete_by_query(
            spark, root, {"query": {"term": {"status": "drop"}}}
        )
        assert stats.partitions_scanned == 3
        assert stats.partitions_rewritten == 2  # 'b' untouched
        assert stats.rows_deleted == 2
        left = spark.read.parquet(str(root))
        assert sorted(r.doc_id for r in left.collect()) == [1, 3, 4]
        # idempotent: rerun is a no-op
        again = delete_by_query(
            spark, root, {"query": {"term": {"status": "drop"}}}
        )
        assert again.partitions_rewritten == 0

    def test_requires_query(self, spark, tmp_path):
        with pytest.raises(ValueError, match="query"):
            delete_by_query(spark, tmp_path, {"q": {}})


class TestUpdateByQuery:
    def test_updates_matching_rows_only(self, spark, tmp_path):
        root = tmp_path / "lake"
        _write_lake(spark, root)
        stats = update_by_query(
            spark,
            root,
            {"query": {"range": {"n": {"gte": 30}}}},
            [{"set": {"field": "status", "value": "audited"}},
             {"uppercase": {"field": "status"}}],
        )
        assert stats.rows_updated == 3 and stats.partitions_rewritten == 2
        rows = {r.doc_id: (r.status, r.n)
                for r in spark.read.parquet(str(root)).collect()}
        assert rows[3] == ("AUDITED", 30) and rows[5] == ("AUDITED", 50)
        # unmatched rows byte-identical
        assert rows[1] == ("keep", 10) and rows[2] == ("drop", 20)

    def test_schema_and_grok_validation(self, spark, tmp_path):
        root = tmp_path / "lake"
        _write_lake(spark, root)
        with pytest.raises(ValueError, match="preserve the table schema"):
            update_by_query(
                spark, root,
                {"query": {"match_all": {}}},
                [{"remove": {"field": "status"}}],
            )
        with pytest.raises(ValueError, match="grok"):
            update_by_query(
                spark, root,
                {"query": {"match_all": {}}},
                [{"grok": {"field": "status", "patterns": ["%{WORD:w}"]}}],
            )

    def test_interrupted_swap_recovers_before_update(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks._swap import part_paths

        root = tmp_path / "lake"
        _write_lake(spark, root)
        # crash window of an earlier swap on a partition the update
        # touches ('b') and on one it does not ('a')
        for part in ("es_index=a", "es_index=b"):
            final, _, old = part_paths(root, part)
            final.rename(old)
        stats = update_by_query(
            spark,
            root,
            {"query": {"range": {"n": {"gte": 30}}}},
            [{"set": {"field": "status", "value": "audited"}}],
        )
        assert stats.partitions_scanned == 3
        assert stats.rows_updated == 3 and stats.partitions_rewritten == 2
        rows = {r.doc_id: (r.es_index, r.status, r.n)
                for r in spark.read.parquet(str(root)).collect()}
        # the recovered partitions took part; nothing was lost
        assert rows == {
            1: ("a", "keep", 10), 2: ("a", "drop", 20),
            3: ("b", "audited", 30), 4: ("b", "audited", 40),
            5: ("c", "audited", 50),
        }
        assert not any(
            p.name.startswith((".tmp-", ".old-")) for p in root.iterdir()
        )
