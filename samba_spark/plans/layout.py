"""Physical-layout utilities: bucketing and skew salting.

These are the two levers SCALE.md reserves for data-dependent tuning at
100 TB — co-locating repeated joins via bucketed tables (no per-query
shuffle) and spreading hot keys via salting (bounded task skew). Both are
plain Spark mechanisms; the helpers make them one-liners and the plan tests
prove the shuffle actually disappears.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from samba_spark.sources.tables import read_parquet


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: Sequence[str],
    num_buckets: int,
    *,
    sort_cols: Optional[Sequence[str]] = None,
    mode: str = "overwrite",
) -> None:
    """Persist as a bucketed (optionally sort-bucketed) table. Joins and
    aggregations keyed on ``bucket_cols`` between tables bucketed the same
    way run with ZERO exchange — the shuffle is paid once at write time.
    (Spark bucketing requires saveAsTable, i.e. a session catalog.)"""
    writer = df.write.mode(mode).bucketBy(num_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.saveAsTable(table)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    *,
    salt: int = 16,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi join: the (large, skewed) left side gets a random
    salt in [0, salt); the (smaller) right side is replicated ``salt``
    times. A key holding 20% of all rows then spreads over ``salt`` tasks
    instead of one. AQE's skew-join split handles moderate skew
    automatically; explicit salting is for the pathological keys AQE's
    partition-splitting cannot break up (single-key hot spots).
    """
    salted_l = left.withColumn(
        "_salt", (F.rand(seed=42) * salt).cast("int")
    )
    salted_r = right.crossJoin(
        F.broadcast(
            left.sparkSession.range(salt).select(F.col("id").cast("int").alias("_salt"))
        )
    )
    out = salted_l.join(salted_r, [on, "_salt"], how)
    return out.drop("_salt")


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: Sequence[str],
    *,
    mode: str = "overwrite",
) -> None:
    """Persist hive-style partitioned parquet (``path/col=value/...``).
    Readers filtering on ``partition_cols`` prune whole directories at
    planning time (PartitionFilters in the scan) — at 100 TB this is the
    primary access path for time- or tenant-scoped queries. Partition
    columns must be low-cardinality (days, regions), never high-cardinality
    keys (one directory per value)."""
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def repartition_for_join(
    left: DataFrame, right: DataFrame, on: str, partitions: int
) -> tuple[DataFrame, DataFrame]:
    """Pre-shuffle both sides identically so a subsequent join (and any
    later groupBy on the same key) reuses the partitioning — one shuffle
    amortized over several stages."""
    return (
        left.repartition(partitions, on),
        right.repartition(partitions, on),
    )


def compact_dataset(
    spark,
    path: str,
    target_mb: int = 512,
    partition_by: list[str] | None = None,
) -> int:
    """Small-files compaction: rewrite a parquet dataset into files of
    ~``target_mb`` each, preserving (or introducing) hive partitioning.
    Returns the number of output files.

    The small-files problem is the classic warehouse failure mode —
    streaming sinks and per-batch appends leave thousands of KB-sized
    files whose open/footer costs dominate scans. Compaction reads once,
    ``repartition``s to ceil(bytes / target) — a round-robin shuffle that
    also rebalances skewed input files — then swaps the directory in two
    renames. The swap is NOT atomic (two renames plus an rmtree cannot be
    on a plain filesystem): a crash between the renames leaves the dataset
    at ``<path>.compact.old``; stale ``.compact.{tmp,old}`` leftovers from
    such a crash are cleaned up on the next run. On a real deployment use
    a table format with transactional commit (Iceberg/Delta rewrite) —
    this is the filesystem-only fallback. At 100 TB this runs
    per-partition (pass ``partition_by``) so each rewrite is bounded and
    incremental.
    """
    import math
    import os
    import shutil

    # clear debris from a previously crashed run, else os.rename raises
    for stale in (path.rstrip("/") + ".compact.tmp", path.rstrip("/") + ".compact.old"):
        if os.path.exists(stale):
            shutil.rmtree(stale)

    size = sum(
        os.path.getsize(os.path.join(dp, f))
        for dp, _, fs in os.walk(path)
        for f in fs
        if not f.startswith(("_", "."))
    )
    n_files = max(1, math.ceil(size / (target_mb * 1024 * 1024)))
    df = read_parquet(spark, path)
    tmp = path.rstrip("/") + ".compact.tmp"
    writer = df.repartition(n_files).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    old = path.rstrip("/") + ".compact.old"
    os.rename(path, old)
    os.rename(tmp, path)
    shutil.rmtree(old)
    return sum(
        1
        for dp, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


def bucketed_rank(
    df: DataFrame,
    key: str,
    order_col: str,
    tiebreak: str,
    buckets: int = 32,
    out_col: str = "rnk",
    max_bucket_rows: int | None = 4_000_000,
) -> DataFrame:
    """Skew-safe per-key rank: ``ROW_NUMBER() OVER (PARTITION BY key ORDER
    BY order_col, tiebreak)`` without ever putting a hot key's rows in one
    task — the data-dependent window shape SCALE.md flags as needing
    salting.

    A plain window sends EVERY row of a key to one task; a bot key with
    10⁹ rows is a straggler (or OOM) at 100 TB. Instead the key's value
    range is split into ``buckets`` fixed-width slices (the per-key analog
    of Spark's own RangePartitioner global sort):

    1. 1-row min/max of ``order_col`` — broadcast.
    2. counts per (key, bucket) — partial-agg shuffle of #keys×buckets
       rows; running sum over buckets within key (a window over that tiny
       relation) gives each bucket's global row offset.
    3. row_number within (key, bucket) + offset — the hot key's window now
       runs as ``buckets`` independent tasks.

    Exactness: the bucket index is non-decreasing in ``order_col`` and
    ties share a bucket, so local-rank + earlier-bucket-count equals the
    global row_number for the composite (order_col, tiebreak) order —
    engine-exact when that composite is unique per key. NULL order values
    sort first (Spark's ASC default) and get bucket 0, so they are ranked,
    never dropped.

    Equal-value hot-key fallback: a bucket whose order values are all
    EQUAL cannot be split on ``order_col`` — the residual skew edge from
    VERDICT r3. When such a (key, bucket) group exceeds
    ``max_bucket_rows`` AND ``tiebreak`` is numeric, the group is
    sub-split on the TIEBREAK's value range with the same fixed-width
    slicing. That stays exact: within an all-equal-order group the
    composite sort order IS the tiebreak order, so the sub-bucket index
    is non-decreasing in the composite and local-rank + offset still
    equals the global row_number. The detection pass is one extra
    column-pruned partial-agg scan (per-group count + order/tiebreak
    min-max, keys×buckets output rows, broadcast back); groups that vary
    in ``order_col`` or sit under the threshold keep ``_sub = 0`` and the
    plan is byte-identical in output to the two-level form. Non-numeric
    tiebreaks skip the fallback (range arithmetic needs a numeric axis)
    and keep the documented single-bucket limitation; pass
    ``max_bucket_rows=None`` to disable the detection scan entirely."""
    lo, hi = F.col("_lo"), F.col("_hi")
    stats = df.agg(
        F.min(order_col).alias("_lo"), F.max(order_col).alias("_hi")
    )
    width = (hi - lo) / buckets
    # NULL order → bucket 0 (NULLs rank first under ASC); all-NULL input
    # leaves lo/hi NULL, which the isNull branch also catches
    bkt = (
        F.when(F.col(order_col).isNull(), F.lit(0))
        .when(hi == lo, F.lit(1))
        .otherwise(
            F.least(
                F.lit(buckets),
                (F.floor((F.col(order_col) - lo) / width) + 1).cast("int"),
            )
        )
        .cast("int")
    )
    b = df.crossJoin(F.broadcast(stats)).withColumn("_bkt", bkt).drop(
        "_lo", "_hi"
    )
    from pyspark.sql import Window
    from pyspark.sql.types import NumericType

    tb_numeric = isinstance(df.schema[tiebreak].dataType, NumericType)
    if max_bucket_rows is not None and tb_numeric:
        # Detection pass: per-(key, bucket) count and order/tiebreak
        # min-max. A group needs the tiebreak sub-split only when it is
        # over the row threshold, its order values are all equal (or all
        # NULL — bucket 0), and its tiebreak actually has a value range.
        g = b.groupBy(key, "_bkt").agg(
            F.count(F.lit(1)).alias("_gn"),
            F.min(order_col).alias("_olo"),
            F.max(order_col).alias("_ohi"),
            F.min(tiebreak).alias("_tlo"),
            F.max(tiebreak).alias("_thi"),
        )
        all_equal_order = (F.col("_olo") == F.col("_ohi")) | (
            F.col("_olo").isNull() & F.col("_ohi").isNull()
        )
        need = (
            (F.col("_gn") > max_bucket_rows)
            & all_equal_order
            & (F.col("_thi") > F.col("_tlo"))
        )
        g = g.select(key, "_bkt", need.alias("_need"), "_tlo", "_thi")
        # Range arithmetic in DOUBLE: a tiebreak spanning the signed-64
        # range (xxhash64 salts — the exact workload this fallback is for)
        # overflows `_thi - _tlo` in long math (ANSI: crash; non-ANSI:
        # wrapped negative width → non-monotonic sub-buckets). double→
        # double subtraction/division is monotone non-decreasing, which is
        # all the exactness argument needs — equal values still share a
        # sub-bucket, larger values never map lower.
        tlo_d, thi_d = F.col("_tlo").cast("double"), F.col("_thi").cast("double")
        sub_width = (thi_d - tlo_d) / buckets
        sub = (
            F.when(~F.col("_need") | F.col(tiebreak).isNull(), F.lit(0))
            .otherwise(
                F.least(
                    F.lit(buckets),
                    (
                        F.floor(
                            (F.col(tiebreak).cast("double") - tlo_d)
                            / sub_width
                        )
                        + 1
                    ).cast("int"),
                )
            )
            .cast("int")
        )
        b = (
            b.join(F.broadcast(g), [key, "_bkt"])
            .withColumn("_sub", sub)
            .drop("_need", "_tlo", "_thi")
        )
    else:
        b = b.withColumn("_sub", F.lit(0))

    counts = b.groupBy(key, "_bkt", "_sub").agg(F.count(F.lit(1)).alias("_n"))
    cum = Window.partitionBy(key).orderBy("_bkt", "_sub")
    offsets = counts.withColumn(
        "_off", F.sum("_n").over(cum) - F.col("_n")
    ).select(key, "_bkt", "_sub", "_off")
    local = Window.partitionBy(key, "_bkt", "_sub").orderBy(order_col, tiebreak)
    return (
        b.join(F.broadcast(offsets), [key, "_bkt", "_sub"])
        .withColumn(
            out_col,
            (F.row_number().over(local) + F.col("_off")).cast("long"),
        )
        .drop("_bkt", "_sub", "_off")
    )


def skew_profile(df: DataFrame, key: str, top: int = 10) -> DataFrame:
    """Pre-join skew diagnostic for a prospective shuffle key: the ``top``
    heaviest key values with their row counts and each key's share of the
    total in parts-per-million (integer — no float exposure). The numbers
    that decide between a plain shuffle join, a broadcast, or salting
    (``salted_join``) BEFORE burning a 100 TB shuffle on a hot key.

    One partial-agg shuffle keyed by ``key``; the total joins back as a
    1-row broadcast; top-k via TakeOrderedAndProject."""
    counts = df.groupBy(key).agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    total = counts.agg(F.sum("n_rows").cast("long").alias("_total"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            key,
            "n_rows",
            F.floor(F.lit(1_000_000) * F.col("n_rows") / F.col("_total"))
            .cast("long")
            .alias("share_ppm"),
        )
        .orderBy(F.desc("n_rows"), F.asc(key))
        .limit(top)
    )


def zorder_value(col_a, col_b, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of the low ``bits`` of two non-negative
    integer columns — one pure-Catalyst expression (2·bits shift/mask/or
    terms, whole-stage-codegen'd). Sorting or range-partitioning by this
    value clusters rows that are close in BOTH dimensions, so per-file
    min/max footer stats stay tight on each column and a filter on either
    one prunes files — the multi-dimensional cousin of partitionBy that
    needs no directory explosion. Columns are masked to ``bits`` first;
    pick bits to cover each column's cardinality."""
    a = F.col(col_a) if isinstance(col_a, str) else col_a
    b = F.col(col_b) if isinstance(col_b, str) else col_b
    a = a.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    b = b.cast("long").bitwiseAND(F.lit((1 << bits) - 1))
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = z.bitwiseOR(
            F.shiftleft(F.shiftright(a, i).bitwiseAND(F.lit(1)), 2 * i)
        ).bitwiseOR(
            F.shiftleft(F.shiftright(b, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        )
    return z


def write_zordered(
    df: DataFrame,
    path: str,
    col_a: str,
    col_b: str,
    n_files: int = 16,
    bits: int = 16,
) -> None:
    """Write ``df`` as parquet laid out along the Z-curve of
    (``col_a``, ``col_b``): each dimension is first min/max-scaled to the
    full ``bits`` width (one tiny agg job — without equalizing bit
    widths the wider column dominates the curve's high bits and the
    narrow one never clusters), then range-partitioned on the Morton
    value so each output file covers a compact curve segment. Verify the
    effect with sources/manifest.parquet_manifest: per-file min/max of
    BOTH columns narrow vs. a round-robin layout, which is what makes
    scan pruning fire on either predicate at 100 TB."""
    mm = df.agg(
        F.min(col_a).alias("a0"),
        F.max(col_a).alias("a1"),
        F.min(col_b).alias("b0"),
        F.max(col_b).alias("b1"),
    ).collect()[0]
    top = (1 << bits) - 1
    span_a = max(1, int(mm.a1) - int(mm.a0))
    span_b = max(1, int(mm.b1) - int(mm.b0))
    a = F.floor(
        (F.col(col_a).cast("long") - F.lit(int(mm.a0))) * top / span_a
    )
    b = F.floor(
        (F.col(col_b).cast("long") - F.lit(int(mm.b0))) * top / span_b
    )
    z = zorder_value(a, b, bits)
    (
        df.withColumn("_z", z)
        .repartitionByRange(n_files, F.col("_z"))
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.mode("overwrite")
        .parquet(path)
    )
