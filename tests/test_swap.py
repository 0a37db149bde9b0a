"""Crash-safe swap protocol (sinks/_swap.py): every interruption point
leaves a state recover_and_sweep repairs to the last durable content.
The sink-level crash cases here cover sketchmaint, rollup and
compaction; the other maintained-state sinks pin theirs in their own
test modules. TestCommitBoundary keeps the commit decision inside
sinks/_swap.py."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

import cga_kinesis_to_elasticsearch_spark

from cga_kinesis_to_elasticsearch_spark.sinks._swap import (
    part_paths,
    recover_and_sweep,
    swap_in,
    write_partitions,
)


def _mkdirs(root, *names):
    for n in names:
        (root / n).mkdir(parents=True)
        (root / n / "part-0.parquet").write_text(n)


class TestRecoverAndSweep:
    def test_orphan_tmp_removed(self, tmp_path):
        _mkdirs(tmp_path, ".tmp-day=2024-01-01")
        assert recover_and_sweep(tmp_path) == []
        assert list(tmp_path.iterdir()) == []

    def test_superseded_old_removed(self, tmp_path):
        _mkdirs(tmp_path, "day=2024-01-01", ".old-day=2024-01-01")
        assert recover_and_sweep(tmp_path) == []
        assert [p.name for p in tmp_path.iterdir()] == ["day=2024-01-01"]
        # final (the newer content) survived, stale old did not
        assert (
            tmp_path / "day=2024-01-01" / "part-0.parquet"
        ).read_text() == "day=2024-01-01"

    def test_interrupted_swap_renamed_back(self, tmp_path):
        # crash between step 2 (final -> old) and step 3 (tmp -> final):
        # both tmp and old exist, final missing
        _mkdirs(tmp_path, ".old-day=2024-01-01", ".tmp-day=2024-01-01")
        assert recover_and_sweep(tmp_path) == ["day=2024-01-01"]
        final = tmp_path / "day=2024-01-01"
        assert [p.name for p in tmp_path.iterdir()] == [final.name]
        assert (final / "part-0.parquet").read_text() == ".old-day=2024-01-01"

    def test_missing_root_noop(self, tmp_path):
        assert recover_and_sweep(tmp_path / "nope") == []


class TestSwapIn:
    def test_promotes_tmp_and_drops_old(self, tmp_path):
        final, tmp, old = part_paths(tmp_path, "day=d")
        _mkdirs(tmp_path, "day=d", ".tmp-day=d")
        swap_in(tmp_path, "day=d")
        assert (final / "part-0.parquet").read_text() == ".tmp-day=d"
        assert not tmp.exists() and not old.exists()

    def test_stale_old_from_prior_crash_cleared(self, tmp_path):
        # crash between steps 3 and 4 left final + old; next swap must
        # not trip over the stale old dir
        final, _, old = part_paths(tmp_path, "day=d")
        _mkdirs(tmp_path, "day=d", ".old-day=d", ".tmp-day=d")
        swap_in(tmp_path, "day=d")
        assert (final / "part-0.parquet").read_text() == ".tmp-day=d"
        assert not old.exists()



class TestWritePartitions:
    def _seed(self, spark, root):
        spark.createDataFrame([("a", 1)], "k string, v long").write.partitionBy(
            "k"
        ).parquet(str(root))

    def _state(self, spark, root):
        return sorted(tuple(r) for r in spark.read.parquet(str(root)).collect())

    def test_promotes_every_staged_partition(self, spark, tmp_path):
        root = tmp_path / "t"
        self._seed(spark, root)
        df = spark.createDataFrame([("a", 2), ("b", 3)], "k string, v long")
        assert write_partitions(df, root, "k") == ["k=a", "k=b"]
        assert self._state(spark, root) == [(2, "a"), (3, "b")]
        assert not any(p.name.startswith(".tmp-") for p in root.iterdir())

    @pytest.mark.parametrize(
        "rows, expected, match",
        [
            ([("a", 2), ("c", 3)], {"a": False}, "never touched"),
            ([("a", 2)], {"a": False, "b": False}, "surviving rows"),
            ([("a", 2)], {"a": False, "b": True}, "no original directory"),
        ],
    )
    def test_mismatch_raises_before_anything_is_promoted(
        self, spark, tmp_path, rows, expected, match
    ):
        root = tmp_path / "t"
        self._seed(spark, root)
        df = spark.createDataFrame(rows, "k string, v long")
        with pytest.raises(RuntimeError, match=match):
            write_partitions(df, root, "k", expected)
        recover_and_sweep(root)
        assert self._state(spark, root) == [(1, "a")]


class TestSketchCrashRecovery:
    def test_interrupted_swap_does_not_lose_accumulated_sketch(
        self, spark, tmp_path
    ):
        from cga_kinesis_to_elasticsearch_spark.sinks.sketchmaint import (
            read_day_sketches,
            refresh_day_sketches,
        )

        root = tmp_path / "sk"
        b1 = spark.createDataFrame(
            [("2024-01-01", "a"), ("2024-01-01", "b")],
            "event_date string, uid string",
        )
        refresh_day_sketches(spark, b1, root, "event_date", "uid")
        # simulate the crash window: final renamed away, new never landed
        final, _, old = part_paths(root, "event_date=2024-01-01")
        final.rename(old)
        b2 = spark.createDataFrame(
            [("2024-01-01", "c")], "event_date string, uid string"
        )
        refresh_day_sketches(spark, b2, root, "event_date", "uid")
        got = {
            r.day: r.distinct_est
            for r in read_day_sketches(spark, root, "event_date").collect()
        }
        # {a,b} recovered from the interrupted swap, then c merged in
        assert got == {"2024-01-01": 3}

    def test_null_day_rows_filtered(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.sketchmaint import (
            refresh_day_sketches,
        )

        root = tmp_path / "sk"
        b = spark.createDataFrame(
            [("2024-01-01", "a"), (None, "b")], "event_date string, uid string"
        )
        assert refresh_day_sketches(spark, b, root, "event_date", "uid") == 1
        assert [p.name for p in root.iterdir()] == ["event_date=2024-01-01"]

    def test_dotted_day_col_roundtrip(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.sketchmaint import (
            read_day_sketches,
            refresh_day_sketches,
        )

        root = tmp_path / "sk"
        b = spark.createDataFrame(
            [("2024-01-01", "a")], "`@cf.day` string, uid string"
        )
        refresh_day_sketches(spark, b, root, "@cf.day", "uid")
        got = read_day_sketches(spark, root, "@cf.day").collect()
        assert [(r.day, r.distinct_est) for r in got] == [("2024-01-01", 1)]


class TestRollupCrashRecovery:
    def test_interrupted_swap_recovered_then_recomputed(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.rollup import (
            refresh_rollup,
        )

        facts = tmp_path / "facts"
        rollup = tmp_path / "rollup"
        df = spark.createDataFrame(
            [("2024-01-01", "view", 1.0), ("2024-01-02", "click", 2.0)],
            "event_date string, event_type string, value double",
        )
        df.write.partitionBy("event_date").parquet(str(facts))

        def agg(day):
            return day.groupBy("event_type").agg(F.count("*").alias("n"))

        refresh_rollup(spark, facts, rollup, ["2024-01-01", "2024-01-02"], agg)
        # crash window on day 1; day 2 untouched by the next batch
        final, _, old = part_paths(rollup, "event_date=2024-01-01")
        final.rename(old)
        refresh_rollup(spark, facts, rollup, ["2024-01-02"], agg)
        out = spark.read.parquet(str(rollup))
        days = {
            r.event_date
            for r in out.select(
                F.col("event_date").cast("string").alias("event_date")
            ).collect()
        }
        # day 1's last durable rollup came back even though the batch
        # didn't touch it
        assert days == {"2024-01-01", "2024-01-02"}


class TestCompactionCrashRecovery:
    def test_interrupted_swap_restores_fact_partition(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.compact import (
            compact_index,
        )

        root = tmp_path / "data"
        df = spark.createDataFrame(
            [("a-2024-01-01", i, f"m{i}") for i in range(20)],
            "es_index string, event_id long, msg string",
        )
        df.repartition(8).write.partitionBy("es_index").parquet(str(root))
        # simulate a crash that swapped the partition out mid-compaction
        final, _, old = part_paths(root, "es_index=a-2024-01-01")
        final.rename(old)
        stats = compact_index(spark, root, target_file_bytes=1 << 30)
        assert final.exists()
        assert spark.read.parquet(str(final)).count() == 20
        assert stats.partitions_examined == 1


class TestCompactionClustering:
    def test_cluster_by_sorts_within_files(self, spark, tmp_path):
        from cga_kinesis_to_elasticsearch_spark.sinks.compact import (
            compact_index,
        )

        root = tmp_path / "data"
        df = spark.createDataFrame(
            [("a-2024-01-01", (i * 37) % 100, i) for i in range(200)],
            "es_index string, app long, event_id long",
        )
        df.repartition(8).write.partitionBy("es_index").parquet(str(root))
        stats = compact_index(
            spark, root, target_file_bytes=1 << 30, cluster_by=("app",)
        )
        assert stats.partitions_compacted == 1 and stats.files_after == 1
        import pyarrow.parquet as pq

        part = root / "es_index=a-2024-01-01"
        f = next(p for p in part.iterdir() if p.suffix == ".parquet")
        vals = pq.read_table(str(f), columns=["app"])["app"].to_pylist()
        assert vals == sorted(vals)
        assert (
            spark.read.parquet(str(part)).agg({"event_id": "count"}).first()[0]
            == 200
        )


_SWAP_PRIMITIVES = {"swap_in", "part_paths", "promote_staged"}


def _commit_violations(source: str) -> list[str]:
    """Code (not docstrings or comments) that builds a temp/old swap
    path or calls a swap primitive directly."""
    tree = ast.parse(source)
    docstrings = {
        id(node.body[0].value)
        for node in ast.walk(tree)
        if isinstance(
            node,
            (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef),
        )
        and node.body
        and isinstance(node.body[0], ast.Expr)
        and isinstance(node.body[0].value, ast.Constant)
    }
    found = []
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and id(node) not in docstrings
            and (".tmp-" in node.value or ".old-" in node.value)
        ):
            found.append(f"line {node.lineno}: swap path {node.value!r}")
        elif isinstance(node, ast.Call):
            f = node.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", "")
            if name in _SWAP_PRIMITIVES:
                found.append(f"line {node.lineno}: calls {name}")
        elif isinstance(node, ast.ImportFrom):
            for a in node.names:
                if a.name in _SWAP_PRIMITIVES:
                    found.append(f"line {node.lineno}: imports {a.name}")
    return found


class TestCommitBoundary:
    """Only sinks/_swap.py decides how a rewritten state directory
    becomes visible; every other module commits through its writers."""

    def test_no_module_outside_swap_builds_swap_paths(self):
        pkg = Path(cga_kinesis_to_elasticsearch_spark.__file__).parent
        swap = pkg / "sinks" / "_swap.py"
        modules = sorted(pkg.rglob("*.py"))
        assert swap in modules and len(modules) > 50
        bad = {
            str(m.relative_to(pkg)): v
            for m in modules
            if m != swap and (v := _commit_violations(m.read_text()))
        }
        assert bad == {}

    @pytest.mark.parametrize(
        "source",
        [
            'tmp = root / f".tmp-{part}"',
            'staging = root / ".old-x"',
            "swap_in(root, part)",
            "_, tmp, _ = part_paths(root, part)",
            "from ._swap import promote_staged",
            "_swap.swap_in(root, part)",
        ],
    )
    def test_scanner_flags_swap_code(self, source):
        assert _commit_violations(source)

    def test_scanner_ignores_docstrings_and_comments(self):
        source = (
            '"""Writes .tmp-<part>, then swap_in(root, part)."""\n'
            "def f():\n"
            '    """part_paths gives the .old-<part> path."""\n'
            "    # swap_in(root, part) and .tmp- dirs\n"
            "    return 1\n"
        )
        assert _commit_violations(source) == []
