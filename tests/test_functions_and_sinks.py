"""Salted aggregation equivalence + streaming foreachBatch -> lake
table sink (B39's Iceberg-sink analog)."""

from __future__ import annotations

import hypothesis.strategies as st
import pandas as pd
from hypothesis import given, settings

from pyspark.sql import functions as F


def test_salted_agg_equals_plain_agg(spark, sf_dir):
    from sample_iceberg_schema_evolution_pyiceberg_spark.functions import salted_agg
    from sample_iceberg_schema_evolution_pyiceberg_spark.sources import load_table

    l = load_table(spark, sf_dir, "lineitem")
    salted = {
        (r["l_returnflag"],): (r["sum_l_quantity"], r["count_l_orderkey"])
        for r in salted_agg(
            l, ["l_returnflag"],
            {"l_quantity": "sum", "l_orderkey": "count"},
        ).collect()
    }
    plain = {
        (r["l_returnflag"],): (r["s"], r["c"])
        for r in l.groupBy("l_returnflag")
        .agg(F.sum("l_quantity").alias("s"), F.count(F.lit(1)).alias("c"))
        .collect()
    }
    assert salted == plain


def test_stream_foreachbatch_into_lake_table(spark, sf_dir, tmp_path):
    """readStream -> foreachBatch -> LakeTable.append: the streaming
    ingest pattern into the lake format (each micro-batch = one
    snapshot)."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.sources import load_table
    from sample_iceberg_schema_evolution_pyiceberg_spark.streaming.queries import (
        _stream_events,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    cat = LakeCatalog(tmp_path / "wh")
    batch_count = load_table(spark, sf_dir, "events").count()
    stream = _stream_events(spark, sf_dir)
    table = cat.create_table("stream", "events_sink", stream.schema)

    def sink(batch_df, batch_id):  # noqa: ANN001
        table.refresh().append(batch_df)

    q = (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    out = cat.load_table("stream", "events_sink")
    assert out.to_df(spark).count() == batch_count
    assert len(out.snapshots) >= 1


def test_approx_sketches_within_error_bounds(spark, sf_dir):
    """The sketch operators (excluded from the hash gate by design)
    must sit within their declared error bounds of the exact values
    they ship alongside."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.operators import QUERIES

    for r in QUERIES["b38_approx_count_distinct"](spark, sf_dir).collect():
        rel_err = abs(r["approx_parts"] - r["exact_parts"]) / max(
            1, r["exact_parts"]
        )
        assert rel_err <= 0.1, (r["l_returnflag"], rel_err)

    for r in QUERIES["b60_approx_percentile"](spark, sf_dir).collect():
        # accuracy=10000 -> rank error ~1/10000; allow 1% value slack
        # on this distribution
        rel_err = abs(r["approx_p50"] - r["exact_p50"]) / max(
            1.0, abs(r["exact_p50"])
        )
        assert rel_err <= 0.01, (r["l_returnflag"], rel_err)


def test_stream_merge_sink_upserts(spark, sf_dir, tmp_path):
    """CDC-apply pattern: foreachBatch merge_into keyed on event_id —
    replaying the same stream twice must NOT duplicate rows (idempotent
    upsert), unlike a plain append sink."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.sources import load_table
    from sample_iceberg_schema_evolution_pyiceberg_spark.streaming.queries import (
        _stream_events,
    )
    from sample_iceberg_schema_evolution_pyiceberg_spark.table_format import (
        LakeCatalog,
    )

    cat = LakeCatalog(tmp_path / "wh")
    batch_count = load_table(spark, sf_dir, "events").count()
    stream = _stream_events(spark, sf_dir)
    table = cat.create_table("stream", "events_merge", stream.schema)

    def sink(batch_df, batch_id):  # noqa: ANN001
        table.refresh().merge_into(spark, batch_df, ["event_id"])

    for ckpt in ("ckpt1", "ckpt2"):  # second run replays everything
        q = (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", str(tmp_path / ckpt))
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    out = cat.load_table("stream", "events_merge").to_df(spark)
    assert out.count() == batch_count  # no duplicates after replay
    assert out.select("event_id").distinct().count() == batch_count


def test_asof_join_semantics(spark):
    from sample_iceberg_schema_evolution_pyiceberg_spark.functions import asof_join

    left = spark.createDataFrame(
        [(1, 5.0), (1, 10.0), (1, 20.0), (2, 7.0), (3, 1.0)],
        "k long, t double",
    )
    right = spark.createDataFrame(
        # (key, time, price): key 1 has rows at t=5 (equal-time ->
        # inclusive match) and t=12; key 2 at t=8 (after the probe ->
        # no match); key 3 absent; price NULL at (1,12) must NOT fall
        # through to the older row (struct payload atomicity)
        [(1, 5.0, 100.0), (1, 12.0, None), (2, 8.0, 300.0)],
        "k long, rt double, price double",
    )
    out = asof_join(left, right, on="k", left_time="t", right_time="rt")
    got = {(r.k, r.t): (r.price,) for r in out.collect()}
    assert got == {
        (1, 5.0): (100.0,),   # equal-time inclusive
        (1, 10.0): (100.0,),
        (1, 20.0): (None,),   # matched (1,12) whose price IS NULL
        (2, 7.0): (None,),    # right row is in the future
        (3, 1.0): (None,),    # key absent from right
    }
    assert out.count() == 5  # left-join: every left row survives


def test_asof_join_tolerance(spark):
    from sample_iceberg_schema_evolution_pyiceberg_spark.functions import asof_join

    left = spark.createDataFrame([(1, 100.0), (1, 200.0)], "k long, t double")
    right = spark.createDataFrame([(1, 95.0, 7.0)], "k long, rt double, v double")
    out = asof_join(
        left, right, on="k", left_time="t", right_time="rt",
        tolerance_seconds=10,
    )
    got = {r.t: r.v for r in out.collect()}
    assert got == {100.0: 7.0, 200.0: None}  # 105s gap exceeds tolerance


def test_asof_join_keeps_left_types(spark):
    """A right side with wider key/time types (bigint vs int, timestamp
    vs timestamp_ntz) must not widen the output's left columns; the
    match is unchanged, and a right key no int can hold matches
    nothing."""
    import datetime as dt

    from sample_iceberg_schema_evolution_pyiceberg_spark.functions import asof_join

    ts = dt.datetime
    left = spark.createDataFrame(
        [(1, ts(2024, 1, 1, 10)), (1, ts(2024, 1, 1, 12)), (2, ts(2024, 1, 1, 9))],
        "k int, t timestamp_ntz",
    )
    right = spark.createDataFrame(
        [(1, ts(2024, 1, 1, 11), 7.0), (2, ts(2024, 1, 1, 8), 9.0),
         (2**40, ts(2024, 1, 1, 8), 1.0)],
        "rk bigint, rt timestamp, px double",
    )
    out = asof_join(left, right, on=("k", "rk"), left_time="t", right_time="rt")
    assert out.schema["k"] == left.schema["k"]
    assert out.schema["t"] == left.schema["t"]
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "int", "timestamp_ntz", "double"
    ]
    got = {(r.k, r.t): r.px for r in out.collect()}
    assert got == {
        (1, ts(2024, 1, 1, 10)): None,  # right row is in the future
        (1, ts(2024, 1, 1, 12)): 7.0,
        (2, ts(2024, 1, 1, 9)): 9.0,
    }


def test_asof_join_single_shuffle_plan(spark):
    """The union-merge as-of join must plan ONE exchange (hash on the
    key for the window) — no join operator, no per-key fan-out."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.functions import asof_join

    left = spark.range(100).select(
        (F.col("id") % 5).alias("k"), F.col("id").cast("double").alias("t")
    )
    right = spark.range(10).select(
        (F.col("id") % 5).alias("k"),
        (F.col("id") * 3).cast("double").alias("rt"),
        F.col("id").alias("payload"),
    )
    out = asof_join(left, right, on="k", left_time="t", right_time="rt")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


@settings(max_examples=15, deadline=None)
@given(
    left=st.lists(
        st.tuples(st.integers(0, 3), st.integers(0, 50)),
        min_size=1, max_size=25,
    ),
    right=st.lists(
        st.tuples(
            st.integers(0, 3), st.integers(0, 50), st.integers(-99, 99)
        ),
        min_size=0, max_size=25,
    ),
)
def test_asof_join_matches_pandas_merge_asof(spark, left, right):
    """Property: asof_join == pandas.merge_asof (backward, inclusive,
    by-key) on arbitrary inputs — an independent reference
    implementation of the same semantics."""
    from sample_iceberg_schema_evolution_pyiceberg_spark.functions import asof_join

    # determinism contract: unique (key, time) on the right
    rdict = {}
    for k, rt, v in right:
        rdict[(k, rt)] = max(v, rdict.get((k, rt), -(10 ** 9)))
    rr = [(k, rt, v) for (k, rt), v in sorted(rdict.items())]

    ldf = spark.createDataFrame(left, "k long, t long")
    rdf = spark.createDataFrame(
        rr, "k long, rt long, v long"
    ) if rr else spark.createDataFrame([], "k long, rt long, v long")
    got = sorted(
        (r.k, r.t, r.v) for r in
        asof_join(ldf, rdf, on="k", left_time="t", right_time="rt").collect()
    )

    lpd = (
        pd.DataFrame(left, columns=["k", "t"])
        .astype("int64")
        .sort_values("t", kind="stable")
    )
    rpd = (
        pd.DataFrame(rr, columns=["k", "rt", "v"])
        .astype("int64")
        .sort_values("rt", kind="stable")
    )
    m = pd.merge_asof(
        lpd, rpd, left_on="t", right_on="rt", by="k",
        direction="backward", allow_exact_matches=True,
    )
    want = sorted(
        (int(r.k), int(r.t), None if pd.isna(r.v) else int(r.v))
        for r in m.itertuples()
    )
    assert got == want


def test_asof_join_rejects_column_collisions(spark):
    import pytest
    from sample_iceberg_schema_evolution_pyiceberg_spark.functions import asof_join

    left = spark.createDataFrame([(1, 1.0, 5.0)], "k long, t double, price double")
    right = spark.createDataFrame([(1, 0.5, 9.0)], "k long, rt double, price double")
    with pytest.raises(ValueError, match="collide"):
        asof_join(left, right, on="k", left_time="t", right_time="rt")
    left2 = spark.createDataFrame([(1, 1.0, 0)], "k long, t double, __p int")
    with pytest.raises(ValueError, match="reserves"):
        asof_join(left2, right.drop("price"), on="k",
                  left_time="t", right_time="rt")
