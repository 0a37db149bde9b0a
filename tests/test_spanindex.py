"""Cross-batch span-dedup index (sinks/spanindex.py): incremental
rewriting equals the one-shot span_dedup on the concatenated corpus;
replays are idempotent; the index is bucket-partitioned."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from cga_kinesis_to_elasticsearch_spark.operators.dedup import span_dedup
from cga_kinesis_to_elasticsearch_spark.sinks.spanindex import (
    read_span_index,
    span_dedup_against_index,
)

_W = 3

_BATCH1 = [
    (0, "alpha beta gamma delta epsilon"),
    (1, "one two three four five"),
]
_BATCH2 = [
    (2, "zz alpha beta gamma yy"),  # repeats batch-1 span
    (3, "one two three four five"),  # full duplicate of doc 1
]
_BATCH3 = [
    (4, "fresh words nothing shared"),
    (5, "zz alpha beta gamma yy"),  # duplicate of doc 2 (batch 2)
]


def _md5(s):
    return hashlib.md5(s.encode()).hexdigest()


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def _run_batches(spark, root, batches):
    out = {}
    for rows in batches:
        res = span_dedup_against_index(
            spark, _df(spark, rows), root, "text", "doc_id", w=_W
        )
        for r in res.collect():
            out[r["doc_id"]] = (
                r["n_tokens"], r["n_removed"], r["retained_md5"]
            )
    return out


class TestIncrementalEqualsOneShot:
    def test_three_batches(self, spark, tmp_path):
        root = tmp_path / "spanidx"
        inc = _run_batches(spark, root, [_BATCH1, _BATCH2, _BATCH3])
        one = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["retained_md5"])
            for r in span_dedup(
                _df(spark, _BATCH1 + _BATCH2 + _BATCH3),
                "text",
                "doc_id",
                w=_W,
            ).collect()
        }
        assert inc == one
        # spot semantics: doc 3 fully covered by doc 1's spans
        assert inc[3][1] == 5 and inc[3][2] == _md5("")
        # doc 2's repeated middle span removed, flanks survive
        assert inc[2] == (5, 3, _md5("zz yy"))
        # doc 5 is covered by doc 2's FIRST-SEEN grams ('zz alpha beta'
        # etc. were registered by doc 2) -> fully rewritten
        assert inc[5][1] == 5

    def test_bucket_partitioned(self, spark, tmp_path):
        root = tmp_path / "spanidx"
        _run_batches(spark, root, [_BATCH1])
        buckets = [p.name for p in root.iterdir() if p.name.startswith("bucket=")]
        assert buckets, "index must be hash-prefix partitioned"
        idx = read_span_index(spark, root)
        assert idx.columns == ["gram_hash", "owner_key"]
        # one row per distinct gram of batch 1 (no within-batch dups)
        assert idx.count() == idx.select("gram_hash").distinct().count()


class TestReplayIdempotence:
    def test_replayed_batch_identical(self, spark, tmp_path):
        root = tmp_path / "spanidx"
        first = _run_batches(spark, root, [_BATCH1, _BATCH2])
        idx_rows = read_span_index(spark, root).count()
        # replay batch 2 (at-least-once delivery)
        replay = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["retained_md5"])
            for r in span_dedup_against_index(
                spark, _df(spark, _BATCH2), root, "text", "doc_id", w=_W
            ).collect()
        }
        assert replay == {k: v for k, v in first.items() if k in (2, 3)}
        # no grams re-registered
        assert read_span_index(spark, root).count() == idx_rows


class TestConcurrentJobSafety:
    def test_append_concurrent_with_other_jobs(self, spark, tmp_path):
        """The spanindex append must compose with the engine's
        concurrent-job patterns (threaded scroll slices / bucketed
        layout writes): r09 scoped a session conf around the append
        with a set/unset toggle, which raced any job planned on
        another thread in that window. The conf is session-wide now —
        run batch appends while a second thread hammers join+agg
        queries and require both the incremental == one-shot contract
        and the side jobs' results to hold."""
        from concurrent.futures import ThreadPoolExecutor

        root = tmp_path / "spanidx"
        side_df = spark.range(0, 5000).select(
            F.col("id"), (F.col("id") % 7).alias("k")
        )

        def side_jobs():
            total = 0
            for _ in range(6):
                j = (
                    side_df.alias("a")
                    .join(side_df.alias("b"), "k")
                    .groupBy("k")
                    .agg(F.count(F.lit(1)).alias("n"))
                )
                total += sum(r["n"] for r in j.collect())
            return total

        with ThreadPoolExecutor(max_workers=1) as pool:
            fut = pool.submit(side_jobs)
            inc = _run_batches(spark, root, [_BATCH1, _BATCH2, _BATCH3])
            side_total = fut.result()

        one = {
            r["doc_id"]: (r["n_tokens"], r["n_removed"], r["retained_md5"])
            for r in span_dedup(
                _df(spark, _BATCH1 + _BATCH2 + _BATCH3), "text", "doc_id", w=_W
            ).collect()
        }
        assert inc == one
        # 5000 ids over 7 keys -> sum of per-key squared counts, x6 runs
        counts = [5000 // 7 + (1 if i < 5000 % 7 else 0) for i in range(7)]
        assert side_total == 6 * sum(c * c for c in counts)


class TestEmptyAppendRobustness:
    def test_short_doc_batch_then_real_batch(self, spark, tmp_path):
        # a batch of all-short docs registers ZERO grams (parquet dir
        # gets only a _SUCCESS marker); the index must stay readable
        root = tmp_path / "spanidx"
        short = [(0, "a b"), (1, "c d")]
        out1 = _run_batches(spark, root, [short])
        assert all(v[1] == 0 for v in out1.values())
        out2 = _run_batches(spark, root, [_BATCH1])
        assert out2[0][1] == 0  # batch still processes fine
        assert read_span_index(spark, root).count() > 0


class TestIdRange:
    """The (id * 2^31 + pos) key only encodes ids in [0, 2^32): an id
    outside it would alias another document's keys, so both span-dedup
    entry points fail the query instead of rewriting the wrong docs."""

    @pytest.mark.parametrize("bad_id", [-1, 2**32])
    def test_out_of_range_ids_raise(self, spark, tmp_path, bad_id):
        rows = [(bad_id, "alpha beta gamma delta"), (7, "alpha beta gamma x")]
        with pytest.raises(Exception, match="out of range"):
            span_dedup(_df(spark, rows), "text", "doc_id", w=_W).collect()
        with pytest.raises(Exception, match="out of range"):
            span_dedup_against_index(
                spark, _df(spark, rows), tmp_path / "idx", "text", "doc_id",
                w=_W,
            ).collect()

    def test_in_range_bigint_ids_pass(self, spark, tmp_path):
        top = 2**32 - 1
        rows = [(top, "alpha beta gamma delta"), (0, "alpha beta gamma x")]
        one = {
            r["doc_id"]: r["n_removed"]
            for r in span_dedup(
                _df(spark, rows), "text", "doc_id", w=_W
            ).collect()
        }
        # doc 0 owns the shared span (smallest id first)
        assert one == {0: 0, top: 3}
        inc = _run_batches(spark, tmp_path / "idx", [rows])
        assert {k: v[1] for k, v in inc.items()} == one
