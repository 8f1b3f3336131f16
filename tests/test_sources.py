"""Source-layer tests: split cache (scan-parallelism ingest step) and
table memoization."""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from sample_iceberg_schema_evolution_pyiceberg_spark import sources


def test_split_cache_preserves_rows_and_order(tmp_path, monkeypatch):
    """The split cache must be a pure re-layout: same rows, same order,
    same schema — just more files."""
    monkeypatch.setattr(sources, "_SPLIT_CACHE_DIR", str(tmp_path / "cache"))
    n = 50_000
    table = pa.table(
        {
            "k": pa.array(range(n), pa.int64()),
            "v": pa.array([f"row-{i}" for i in range(n)], pa.string()),
        }
    )
    src = tmp_path / "one_group.parquet"
    # row_group_size >= n -> a single row group, the layout that
    # motivates the cache
    pq.write_table(table, src, row_group_size=n)
    assert pq.ParquetFile(src).metadata.num_row_groups == 1

    dst = sources._split_cached_path(str(src))
    assert dst != str(src)
    files = sorted(p for p in (tmp_path / "cache").glob("*/part-*.parquet"))
    assert len(files) > 1
    rebuilt = pa.concat_tables([pq.read_table(f) for f in files])
    assert rebuilt.equals(table)

    # second call hits the cache (same path returned, no rebuild)
    assert sources._split_cached_path(str(src)) == dst


def test_split_cache_skips_small_files(tmp_path, monkeypatch):
    monkeypatch.setattr(sources, "_SPLIT_CACHE_DIR", str(tmp_path / "cache"))
    table = pa.table({"k": pa.array(range(100), pa.int64())})
    src = tmp_path / "small.parquet"
    pq.write_table(table, src)
    assert sources._split_cached_path(str(src)) == str(src)


def test_load_table_memoized(spark, sf_dir):
    a = sources.load_table(spark, sf_dir, "nation")
    b = sources.load_table(spark, sf_dir, "nation")
    assert a is b


def test_topk_prune_threshold_retains_topk(tmp_path, monkeypatch):
    """Property: for any data layout, filtering col >= threshold then
    taking top-k equals top-k of the full data — the zone-map bound
    never drops a top-k row. Exercised across seeds, row-group sizes,
    and k, including heavy duplicate values (ties at the bound)."""
    import random

    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(sources, "_SPLIT_CACHE_DIR", str(tmp_path / "cache"))
    for seed in (1, 7, 42):
        rng = random.Random(seed)
        n = rng.randint(500, 3000)
        vals = [rng.randint(0, 50) for _ in range(n)]  # many ties
        sfdir = tmp_path / f"sf{seed}"
        sfdir.mkdir()
        pq.write_table(
            pa.table({"v": vals, "id": list(range(n))}),
            sfdir / "t.parquet",
            row_group_size=rng.choice([37, 100, 256]),
        )
        for k in (1, 10, 100):
            thr = sources.topk_prune_threshold(str(sfdir), "t", "v", k)
            want = sorted(vals, reverse=True)[:k]
            if thr is None:
                continue  # no pruning -> trivially correct
            survivors = [v for v in vals if v >= thr]
            assert sorted(survivors, reverse=True)[:k] == want, (
                seed, k, thr
            )


def test_topk_prune_threshold_fallbacks(tmp_path, monkeypatch):
    import pyarrow as pa
    import pyarrow.parquet as pq

    monkeypatch.setattr(sources, "_SPLIT_CACHE_DIR", str(tmp_path / "cache"))
    sfdir = tmp_path / "sf"
    sfdir.mkdir()
    pq.write_table(
        pa.table({"v": list(range(1000))}), sfdir / "t.parquet",
        row_group_size=10,
    )
    # missing column and missing table -> None, never an exception
    assert sources.topk_prune_threshold(str(sfdir), "t", "nope", 5) is None
    assert sources.topk_prune_threshold(str(sfdir), "gone", "v", 5) is None
    # fewer row groups than k -> None (nothing to prune)
    assert sources.topk_prune_threshold(str(sfdir), "t", "v", 100) is None
    # enough groups: the bound exists and is a real value
    thr = sources.topk_prune_threshold(str(sfdir), "t", "v", 3)
    assert thr == 979  # 3rd largest group max: 999, 989, 979


def test_read_orc_evolved_widen_and_refusals(spark, tmp_path):
    """r16 (VERDICT r15 item 6, ORC half): read_orc_evolved widens
    int->long and int/float->double across heterogeneous ORC files,
    null-fills added columns, and refuses non-widenable conflicts —
    Spark's native mergeSchema refuses even the widening outright."""
    import glob
    import os
    import shutil

    import pytest as _pytest

    from sample_iceberg_schema_evolution_pyiceberg_spark.operators.sources_sinks import (
        read_orc_evolved,
    )

    d = tmp_path / "orc_evo"
    spark.range(3).selectExpr("cast(id as int) a", "cast(id as float) b").coalesce(
        1
    ).write.orc(str(d / "s1"))
    spark.range(3, 6).selectExpr(
        "cast(id as long) a", "cast(id as double) b", "concat('v', id) c"
    ).coalesce(1).write.orc(str(d / "s2"))
    dd = d / "all"
    os.makedirs(dd)
    for i, f in enumerate(
        sorted(glob.glob(str(d / "s1" / "*.orc")))
        + sorted(glob.glob(str(d / "s2" / "*.orc")))
    ):
        shutil.copy(f, dd / f"part-{i}.orc")
    # native mergeSchema refuses this layout (the gap this closes)
    with _pytest.raises(Exception, match="CANNOT_MERGE_SCHEMAS"):
        spark.read.option("mergeSchema", "true").orc(str(dd)).collect()
    back = read_orc_evolved(spark, str(dd))
    assert dict(back.dtypes) == {"a": "bigint", "b": "double", "c": "string"}
    got = sorted((r.a, r.b, r.c) for r in back.collect())
    assert got == [
        (0, 0.0, None), (1, 1.0, None), (2, 2.0, None),
        (3, 3.0, "v3"), (4, 4.0, "v4"), (5, 5.0, "v5"),
    ]
    # non-widenable conflict refuses loudly
    d2 = tmp_path / "orc_conflict"
    spark.range(2).selectExpr("cast(id as long) a").coalesce(1).write.orc(
        str(d2 / "s1")
    )
    spark.range(2).selectExpr("concat('x', id) a").coalesce(1).write.orc(
        str(d2 / "s2")
    )
    dd2 = d2 / "all"
    os.makedirs(dd2)
    for i, f in enumerate(
        sorted(glob.glob(str(d2 / "s1" / "*.orc")))
        + sorted(glob.glob(str(d2 / "s2" / "*.orc")))
    ):
        shutil.copy(f, dd2 / f"part-{i}.orc")
    with _pytest.raises(ValueError, match="not an Avro-legal widening"):
        read_orc_evolved(spark, str(dd2))


def _bucketed_fixture(tmp_path):
    """A small orders table in its own sf dir."""
    sfdir = tmp_path / "sf"
    sfdir.mkdir()
    pq.write_table(
        pa.table({
            "o_orderkey": pa.array(range(2000), pa.int64()),
            "o_total": pa.array([i * 0.5 for i in range(2000)], pa.float64()),
        }),
        sfdir / "orders.parquet",
    )
    return str(sfdir)


def _groups_without_exchange(df) -> bool:
    """A bucketed scan already clusters rows by key: grouping by it
    plans no Exchange."""
    g = df.groupBy("o_orderkey").count()
    return "Exchange" not in g._jdf.queryExecution().executedPlan().toString()


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _listing(path):
    return {f: os.stat(os.path.join(path, f)).st_mtime_ns for f in os.listdir(path)}


def test_bucketed_table_build_then_adopt(spark, tmp_path):
    """Fresh build writes a bucketed layout; a new catalog entry over a
    COMPLETE prior build (_SUCCESS present) adopts it unrewritten."""
    sfdir = _bucketed_fixture(tmp_path)
    plain = sources.load_table(spark, sfdir, "orders")
    assert not _groups_without_exchange(plain)
    want = _rows(plain)

    built = sources.bucketed_table(spark, sfdir, "orders", "o_orderkey", buckets=4)
    path = os.path.dirname(built.inputFiles()[0].removeprefix("file:"))
    name = os.path.basename(path)
    try:
        assert os.path.exists(os.path.join(path, "_SUCCESS"))
        assert len(built.inputFiles()) == 4  # one sorted file per bucket
        assert _groups_without_exchange(built)
        assert _rows(built) == want

        # a new catalog entry over the same warehouse files (what a
        # fresh session sees): the catalog forgets the table, the
        # complete build stays on disk
        shutil.copytree(path, tmp_path / "saved")
        spark.sql(f"DROP TABLE `{name}`")
        shutil.copytree(tmp_path / "saved", path)
        before = _listing(path)

        adopted = sources.bucketed_table(
            spark, sfdir, "orders", "o_orderkey", buckets=4
        )
        assert spark.catalog.tableExists(name)
        assert _listing(path) == before  # adopted, not rewritten
        assert _groups_without_exchange(adopted)
        assert _rows(adopted) == want
    finally:
        spark.sql(f"DROP TABLE IF EXISTS `{name}`")
        shutil.rmtree(path, ignore_errors=True)


def test_bucketed_table_failed_build_falls_back_loudly(spark, tmp_path, monkeypatch):
    """A layout build that fails (disk full during the write) warns and
    serves the plain scan: same rows, no bucket spec."""
    from pyspark.sql.readwriter import DataFrameWriter

    sfdir = _bucketed_fixture(tmp_path)

    def disk_full(self, *a, **k):
        raise OSError(28, "No space left on device")

    monkeypatch.setattr(DataFrameWriter, "saveAsTable", disk_full)
    with pytest.warns(RuntimeWarning, match="falling back to a plain scan"):
        got = sources.bucketed_table(
            spark, sfdir, "orders", "o_orderkey", buckets=4
        )
    assert got is sources.load_table(spark, sfdir, "orders")
    assert not _groups_without_exchange(got)
    assert len(_rows(got)) == 2000
