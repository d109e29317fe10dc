"""Count → sort → rank → format pipeline (SURVEY.md §2.1 O10-O15).

The reference materializes every group in a single reducer's HashMap and
sorts in ``cleanup`` (/root/reference/src/StockCount.java:37-66,
WordCount.java:68-93) — its own README flags that as the scalability
bottleneck. Here:

- counting is ``groupBy().count()`` → partial (map-side combine) + final
  HashAggregate with spill — the combiner the reference discusses but never
  implements (WordCount.java:104);
- top-k is ``orderBy().limit()`` → ``TakeOrderedAndProject`` (per-partition
  heaps, no global sort);
- full ranked output sorts the *aggregated* table (cardinality = #distinct
  keys, orders of magnitude smaller than the input even at 100 TB), so the
  single-partition row_number window runs over thousands of rows, not
  billions.

Ties: the reference's rank order on equal counts is nondeterministic
(HashMap iteration, StockCount.java:54-58); the engine adds a ``key ASC``
tiebreaker — documented intentional divergence (SURVEY.md §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_table


def count_by_key(df: DataFrame, key: str, count_col: str = "cnt") -> DataFrame:
    """O10+O11: hash-partition exchange + COUNT per key."""
    return df.groupBy(key).agg(F.count(F.lit(1)).alias(count_col))


def ranked(df: DataFrame, key: str, count_col: str = "cnt",
           rank_col: str = "rank", limit: int | None = None) -> DataFrame:
    """O12+O13(+O14): order by count desc (key asc tiebreak) and assign
    row_number ranks; optional top-k. Neither path funnels the full
    table through one task (round 5 — previously both did, documented
    as acceptable for aggregated tables; a token table at 100 TB is
    still billions of distinct keys, the reference's own single-reducer
    bottleneck shape):

    - ``limit`` set: top-k FIRST via orderBy+limit (compiles to
      TakeOrderedAndProject — per-partition heaps, no global sort, no
      window over the full table), then row_number over the k
      survivors — that window is bounded by ``limit``, not the data.
    - full output: ``bucketed_row_number`` with the same monotone
      (count-tier, key-prefix) bucketing vocabulary() uses — string
      keys sub-bucket the hot low-count tiers by first character
      (order-consistent: within one exact count the order IS key ASC);
      non-string keys bucket by count tier alone (hot exact-count tiers
      of a numeric-keyed table were already aggregated once, and a
      sub-bucket expression must be monotone in the key's own order).
    """
    if limit is not None:
        top = df.orderBy(F.desc(count_col), F.asc(key)).limit(limit)
        w = Window.orderBy(F.desc(count_col), F.asc(key))
        return top.withColumn(rank_col, F.row_number().over(w).cast("int"))
    from pyspark.sql import types as T

    cnt = F.col(count_col)
    tier = (
        F.when(cnt > 255, -F.floor(F.log2(cnt)))
        .otherwise(256 - cnt)
        .cast("int")
    )
    if isinstance(df.schema[key].dataType, T.StringType):
        sub = F.when(cnt > 255, F.lit("")).otherwise(F.substring(key, 1, 1))
    else:
        sub = F.lit("")
    b = df.withColumn("_rtier", tier).withColumn("_rsub", sub)
    out = bucketed_row_number(
        b, ["_rtier", "_rsub"], [cnt.desc(), F.col(key).asc()], rank_col
    ).drop("_rtier", "_rsub")
    return out.withColumn(rank_col, F.col(rank_col).cast("int"))


def count_rank_format(df: DataFrame, key: str, fmt: str = "%d: %s, %d",
                      limit: int | None = None) -> DataFrame:
    """Full O10-O15 pipeline with the reference's output line format
    ``"<rank>: <key>, <cnt>"`` (StockCount.java:63) /
    ``"<rank>: <word>"`` + count (WordCount.java:91)."""
    counted = count_by_key(df, key)
    r = ranked(counted, key, limit=limit)
    return r.select(
        F.format_string(fmt, F.col("rank"), F.col(key), F.col("cnt")).alias("line")
    )


def bucketed_row_number(
    df: DataFrame,
    bucket_cols: list[str],
    order_by: list,
    id_col: str,
    max_buckets: int = 1 << 20,
) -> DataFrame:
    """1-based ``row_number`` over the global order ``(bucket_cols ASC,
    order_by)`` WITHOUT a SinglePartition exchange — the shared engine
    under ``assign_global_ids`` and ``relevance.vocabulary``.

    REQUIRES: the bucket tuple is a monotone PREFIX of the intended
    global order — every row of a lesser bucket sorts before every row
    of a greater bucket, and ``order_by`` resolves order within a
    bucket. Bucket columns must be simple orderable types (int/str):
    the per-bucket counts are collected (≤ ``max_buckets`` rows,
    enforced loudly) and cumulated driver-side in Python-tuple sort
    order, which matches Spark's ASC NULLS-less ordering for those
    types; the offset table broadcasts back and the heavy data moves
    exactly once (the bucket-hash exchange feeding the window).
    """
    counts = (
        df.groupBy(*bucket_cols).agg(F.count(F.lit(1)).alias("n")).collect()
    )
    if len(counts) > max_buckets:
        raise ValueError(
            f"bucketed_row_number: {len(counts)} distinct buckets exceeds "
            f"max_buckets={max_buckets} — the offset table is driver-held; "
            "coarsen the bucket expression"
        )
    keyed = sorted((tuple(r[c] for c in bucket_cols), r["n"]) for r in counts)
    rows = []
    running = 0
    for key, n in keyed:
        rows.append(key + (running,))
        running += n
    from pyspark.sql import types as T

    schema = T.StructType(
        list(df.select(*bucket_cols).schema)
        + [T.StructField("_offset", T.LongType(), False)]
    )
    offsets = local_table(df.sparkSession, rows, schema)
    w = Window.partitionBy(*bucket_cols).orderBy(*order_by)
    return (
        df.join(F.broadcast(offsets), bucket_cols)
        .withColumn(
            id_col,
            (F.col("_offset") + F.row_number().over(w)).cast("long"),
        )
        .drop("_offset")
    )


def assign_global_ids(
    df: DataFrame,
    key_col: str,
    id_col: str = "global_id",
    bucket_bits: int = 8,
    hash_mode: str = "native",
) -> DataFrame:
    """Dense 0-based global row ids WITHOUT a single-partition global
    sort — the id-assignment step of corpus construction, where
    ``row_number().over(Window.orderBy(...))`` would funnel 100 TB
    through one task.

    Order is hash-of-key order (a deterministic shuffle order, like
    ``sampling.deterministic_shuffle``), keys tie-broken by value;
    ``key_col`` must be unique per row for ids to be well-defined.
    ``hash_mode="native"`` orders by unsigned xxhash64 (fastest, JVM
    codegen); ``hash_mode="portable"`` orders by the md5 hex digest of
    the key's string form — reproducible in any engine (the DuckDB
    oracle in tests re-derives the ids as a plain global sort on
    ``md5(CAST(key AS VARCHAR))``, independently verifying the whole
    bucket/offset construction).

    Construction: bucket = the hash's top ``bucket_bits`` bits (so
    (bucket ASC, hash ASC) IS global hash order and ids are INVARIANT
    to the bucket count — pinned in tests); per-bucket counts aggregate
    map-side down to 2^bucket_bits rows for a driver-held cumulative-
    offset table (broadcast back); final id = bucket offset +
    row_number within the bucket's window. Everything is a pure function
    of the DATA — no partitioner boundary sampling, no
    spark_partition_id — so re-execution of any stage reproduces the
    same ids. Cost: one tiny counts job + ONE corpus shuffle (the
    bucket-partitioned window); per-task sort is n / 2^bucket_bits rows
    (raise bucket_bits at larger scale). ``bucket_bits`` caps at 20:
    the per-bucket counts are collect()ed, and 2^20 offset rows is
    already far beyond any realistic per-task-sort need — higher would
    grow the driver-held table toward the very bottleneck this
    operator exists to avoid.
    """
    if not 1 <= bucket_bits <= 20:
        raise ValueError("assign_global_ids: bucket_bits must be in [1, 20]")
    if hash_mode == "native":
        h = F.xxhash64(F.col(key_col))
        # top bits of the UNSIGNED hash: sign bit becomes the bucket's
        # MSB, and within a bucket every hash shares that sign, so signed
        # ordering within a bucket equals unsigned ordering —
        # bucket-count-invariant.
        bucket = F.shiftrightunsigned(h, 64 - bucket_bits).cast("int")
    elif hash_mode == "portable":
        # md5 hex string: lexicographic order == unsigned numeric order
        # of the digest, and the bucket (top bits of the first 32) is a
        # PREFIX of that order, so (bucket ASC, hex ASC) is global
        # md5 order — same invariance argument as the native path.
        h = F.md5(F.col(key_col).cast("string").cast("binary"))
        # first 8 hex chars = top 32 bits, value < 2^32 — fits a long
        top32 = F.conv(F.substring(h, 1, 8), 16, 10).cast("long")
        bucket = F.shiftright(top32, 32 - bucket_bits).cast("int")
    else:
        raise ValueError(
            f"assign_global_ids: unknown hash_mode {hash_mode!r} "
            "(expected 'native' or 'portable')"
        )
    with_b = df.withColumn("_bucket", bucket)
    out = bucketed_row_number(
        with_b,
        ["_bucket"],
        [h.asc(), F.col(key_col).asc()],
        id_col,
        max_buckets=1 << bucket_bits,
    )
    return out.withColumn(id_col, F.col(id_col) - 1).drop("_bucket")
