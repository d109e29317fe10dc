"""Session configuration, driver-built tables and sizing math."""

from __future__ import annotations

import datetime as dt
import decimal
import io
from contextlib import redirect_stdout

import pytest
from pyspark.sql import Row

from mapreduce_stockheadlines_spark.session import (
    CODEGEN_CACHE_ENTRIES,
    conf_for_scale,
    local_table,
)


def _plan(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_local_table_matches_create_dataframe_without_python_scan(spark):
    """local_table returns what createDataFrame(<list>) returns — every
    row shape (tuple, dict, Row, all-NULL) and type family, datetimes
    included — but plans a LocalTableScan, not a pickled Python RDD."""
    schema = (
        "i int, l long, s string, d double, b boolean, a array<double>, "
        "m map<string,long>, st struct<x:int,y:string>, dt date, "
        "ts timestamp, dec decimal(10,2), bin binary"
    )
    rows = [
        (1, 2, "x", 1.5, True, [1.0, None], {"k": 3}, (4, "y"),
         dt.date(2020, 1, 2), dt.datetime(2020, 1, 2, 3, 4, 5, 6),
         decimal.Decimal("1.25"), bytearray(b"ab")),
        (None,) * 12,
        {"i": 5, "s": "dict"},
        Row(i=7, l=8, s="row", d=0.0, b=False, a=[], m={},
            st=Row(x=1, y=None), dt=None, ts=None, dec=None, bin=None),
    ]
    got = local_table(spark, rows, schema)
    assert got.collect() == spark.createDataFrame(rows, schema).collect()
    assert got.schema == spark.createDataFrame(rows, schema).schema
    plan = _plan(got)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    assert local_table(spark, [], "w string").collect() == []


def test_local_table_keeps_type_verification(spark):
    """createDataFrame's per-row verifier still runs: a wrong-typed value
    or a NULL in a non-nullable field fails at the call, not later."""
    from pyspark.sql import types as T

    with pytest.raises(TypeError):
        local_table(spark, [("not-an-int",)], "n int")
    strict = T.StructType([T.StructField("n", T.LongType(), False)])
    with pytest.raises(ValueError):
        local_table(spark, [(None,)], strict)


def test_bucketed_row_number_offsets_plan_no_python_scan(spark):
    """The offset table bucketed_row_number broadcasts (under ranked,
    stock_count, vocabulary, assign_global_ids) is a local relation:
    over a JVM-side input the whole plan has no Python RDD scan."""
    from pyspark.sql import functions as F

    from mapreduce_stockheadlines_spark.operators.rank import (
        count_by_key,
        ranked,
    )

    keys = spark.range(60).select((F.col("id") % 7).alias("k"))
    r = ranked(count_by_key(keys, "k"), "k")
    plan = _plan(r)
    assert "LocalTableScan" in plan
    assert "ExistingRDD" not in plan
    rows = r.orderBy("rank").collect()
    assert [x.rank for x in rows] == list(range(1, 8))
    assert [x.k for x in rows[:2]] == [0, 1]  # count 9 each, key ASC


def test_codegen_cache_holds_a_warm_pass(spark, sf_dir):
    """A working set of generated-code classes larger than Spark's
    default cache (100 entries) stays compiled: the third consecutive
    pass over five registry queries compiles no new class. With the
    default size the LRU cycle evicts every class before its next use;
    with the AQE stage number in the class name x02's independent
    shuffle stages also recompiled ~6-10 classes a pass."""
    from mapreduce_stockheadlines_spark.plans.registry import queries

    metric = spark.sparkContext._jvm.org.apache.spark.metrics.source
    compiles = metric.CodegenMetrics.METRIC_COMPILATION_TIME()
    qs = queries()
    names = [
        "q02_group_agg",
        "q09_window_partitioned",
        "q10_window_functions",
        "q25_cube_grouping_sets",
        "x02_ngram_jaccard",
    ]
    passes = []
    for _ in range(3):
        before = compiles.getCount()
        for n in names:
            qs[n](spark, sf_dir).collect()
        passes.append(compiles.getCount() - before)
    # the first pass measures the working set (classes compiled earlier
    # in the test session only lower it)
    assert passes[0] <= CODEGEN_CACHE_ENTRIES, passes
    assert passes[2] == 0, passes


def test_conf_for_scale_100tb_reference_cluster():
    conf = conf_for_scale(100 << 40, executors=1000, cores_per_executor=4,
                          executor_mem_gb=16)
    assert conf["spark.sql.files.maxPartitionBytes"] == str(128 << 20)
    # 100 TB / 128 MB = 819200 — dominates the 8000-slot floor
    assert conf["spark.sql.shuffle.partitions"] == "819200"
    assert (
        conf["spark.sql.adaptive.coalescePartitions.initialPartitionNum"]
        == "819200"
    )


def test_conf_for_scale_small_input_floors_at_slots():
    conf = conf_for_scale(1 << 30, executors=10, cores_per_executor=4,
                          executor_mem_gb=16)
    # 1 GB / 128 MB = 8 partitions — the 2x-slots floor (80) wins
    assert conf["spark.sql.shuffle.partitions"] == "80"


def test_conf_for_scale_shuffle_fraction_scales_count():
    full = conf_for_scale(10 << 40, executors=100)
    tenth = conf_for_scale(10 << 40, executors=100, shuffle_fraction=0.1)
    assert int(tenth["spark.sql.shuffle.partitions"]) < int(
        full["spark.sql.shuffle.partitions"]
    )


def test_conf_for_scale_rejects_spill_prone_shape():
    with pytest.raises(ValueError, match="headroom"):
        conf_for_scale(1 << 40, executors=10, cores_per_executor=16,
                       executor_mem_gb=2)
    with pytest.raises(ValueError, match="positive"):
        conf_for_scale(0, executors=10)
