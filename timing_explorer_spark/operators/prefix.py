"""Distributed prefix scans: running totals and global ranks without a
single-partition window.

``Window.orderBy(t)`` with no partition key plans as ONE task holding the
whole dataset — correct at test scale, a non-starter at 100 TB. The classic
distributed alternative is the two-phase scan:

  1. range-partition the rows by the order key (a range exchange — the same
     shuffle a global ORDER BY uses);
  2. per partition, compute the local prefix scan with a window PARTITIONED
     by the physical partition id (parallel across partitions; the window's
     own (__pid, order) sort is the only sort the scan needs);
  3. aggregate one row per partition (its local total / row count) — a tiny
     side table — cumsum THAT with a driver-size window, and broadcast-join
     the per-partition offset back.

Every heavy step is partition-parallel; the only serial work is the
per-partition offset cumsum over n_partitions rows. This is the textbook
parallel scan (Blelloch) mapped onto Spark exchanges.

The reference has no analog (its dataflow is single-parallelism,
/root/reference/src/main/java/com/ververica/jobs/TimingExplorer.java:114);
these exist for the driver's extension surface (global running aggregates,
exact equi-depth ranking) at cluster scale.

Determinism: ``order_cols`` must be a total order (add a unique tiebreaker);
range partitioning boundaries are sampled but the OUTPUT is independent of
the boundaries — offsets compensate wherever the splits land.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _require_exact_sum(df: DataFrame, value_col: str) -> None:
    """Fail loudly when ``value_col`` is not exactly summable (ADVICE r12):
    the offsets aggregate runs without a pre-sort, so float/double partition
    totals would follow partial-sum arrival order — run-to-run
    nondeterministic output. Integral and decimal sums are exact under any
    order; those are the only types this scan accepts."""
    dt = df.schema[value_col].dataType
    ok = isinstance(
        dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType)
    )
    if not ok:
        raise TypeError(
            f"running_total/global_rank require an exactly-summable value "
            f"column (integral or decimal); got {value_col}: {dt.simpleString()}. "
            f"Cast to decimal for deterministic distributed prefix sums."
        )


def _with_partition_offsets(df: DataFrame, order_cols: list[str],
                            local_col: str, n_parts: int | None,
                            with_total: bool = False) -> DataFrame:
    """Range-partition ``df`` into ``n`` order-contiguous partitions, attach
    __pid and the exclusive per-partition offset of ``local_col`` (sum over
    all earlier partitions). ``local_col`` values must already be per-row
    (pre-scan).

    Two data-grain exchanges: the range exchange on ``order_cols``, then the
    local-scan window's own hash exchange on __pid (the opaque
    spark_partition_id is not a partitioning Catalyst can reuse). The offsets
    aggregate reads the same ranged frame, so its input exchange is shared
    via ReusedExchange when the projections align.

    ``with_total`` additionally attaches ``__total`` — the GRAND total of
    ``local_col`` — computed over the same tiny per-partition table the
    offsets come from (one extra window over n_parts rows, zero extra
    passes over the data). Consumers that need both the scan and its total
    (cumulative shares, NTILE bucket math) previously re-aggregated the
    full input a second time just for that scalar (r12, guide §2.4)."""
    n = n_parts or df.sparkSession.sparkContext.defaultParallelism
    ranged = df.repartitionByRange(
        n, *[F.col(c) for c in order_cols]
    ).withColumn("__pid", F.spark_partition_id())
    totals = ranged.groupBy("__pid").agg(F.sum(local_col).alias("__ptotal"))
    # No sortWithinPartitions here (r12, guide §2.2): __pid depends only on
    # the exchange, the offsets aggregate is order-insensitive (every
    # consumer's value_col is integer/long — exact under any partial-sum
    # order), and the local-scan window re-sorts by (__pid, order_cols)
    # itself.
    # Tiny per-partition totals -> exclusive cumsum over __pid. <=n rows
    # total, so the unpartitioned window is driver-scale work.
    w = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    cols = [
        F.col("__pid"),
        F.coalesce(F.sum("__ptotal").over(w), F.lit(0)).alias("__offset"),
    ]
    if with_total:
        w_all = Window.orderBy("__pid").rowsBetween(
            Window.unboundedPreceding, Window.unboundedFollowing
        )
        cols.append(F.sum("__ptotal").over(w_all).alias("__total"))
    offsets = totals.select(*cols)
    return ranged.join(F.broadcast(offsets), "__pid")


def running_total(df: DataFrame, order_cols: list[str], value_col: str,
                  alias: str = "running_total", n_parts: int | None = None,
                  total_alias: str | None = None) -> DataFrame:
    """Globally-ordered running SUM(value_col), distributed.

    Equivalent to ``SUM(value_col) OVER (ORDER BY order_cols ROWS UNBOUNDED
    PRECEDING)`` but executed as a two-phase parallel scan (module doc).
    Output columns: input columns + ``alias`` (+ ``total_alias`` = the grand
    total of ``value_col`` on every row when requested — free from the
    offsets side table; consumers needing a share denominator should take
    it here instead of re-aggregating the input).

    ``value_col`` must be EXACTLY SUMMABLE (integral or decimal): the
    per-partition offsets aggregate is computed without a pre-sort, so a
    float/double value column would make partition totals depend on
    partial-sum arrival order (run-to-run nondeterminism). Enforced below —
    a float caller fails loudly instead of silently losing determinism
    (ADVICE r12).
    """
    _require_exact_sum(df, value_col)
    staged = _with_partition_offsets(
        df, order_cols, value_col, n_parts, with_total=total_alias is not None
    )
    local_w = Window.partitionBy("__pid").orderBy(*order_cols).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    extra = [F.col("__total").alias(total_alias)] if total_alias else []
    return staged.select(
        *df.columns,
        (F.sum(value_col).over(local_w) + F.col("__offset")).alias(alias),
        *extra,
    )


def global_rank(df: DataFrame, order_cols: list[str],
                alias: str = "rk", n_parts: int | None = None,
                total_alias: str | None = None) -> DataFrame:
    """Global ROW_NUMBER() OVER (ORDER BY order_cols), distributed.

    Same two-phase scan with value == 1: local row_number per range
    partition + broadcast exclusive row-count offsets. ``total_alias``
    attaches the global row COUNT to every row (from the same offsets
    table — no extra pass; NTILE-style closed forms need it)."""
    staged = _with_partition_offsets(
        df.withColumn("__one", F.lit(1)), order_cols, "__one", n_parts,
        with_total=total_alias is not None,
    )
    local_w = Window.partitionBy("__pid").orderBy(*order_cols)
    extra = [F.col("__total").alias(total_alias)] if total_alias else []
    return staged.select(
        *[c for c in df.columns if c != "__one"],
        (F.row_number().over(local_w) + F.col("__offset")).alias(alias),
        *extra,
    )
