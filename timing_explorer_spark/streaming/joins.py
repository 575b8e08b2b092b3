"""Stream-stream joins — the interval-join operator family of the
reference's ecosystem (Flink's KeyedStream.intervalJoin; the reference job
itself unions rather than joins — TimingExplorer.java wires no two-input
join — but any enrichment topology next to it does), expressed as Structured
Streaming's watermarked stream-stream join.

Semantics (and the state contract, which is the part that matters at scale):

- INNER interval join: left row l matches right rows r with the same key and
  r.ts ∈ [l.ts + lower, l.ts + upper]. Each side buffers rows in state only
  until the other side's watermark proves no future match can arrive — the
  time-range predicate is what lets Spark derive a state-eviction bound, so
  state size is rate × (watermark + interval width), NOT stream length.
  A join on key alone (no time bound) would keep both sides forever; this
  module therefore requires the interval.
- LEFT-OUTER: same matches, plus unmatched left rows emitted with null right
  columns — but only once the watermark passes the end of their match
  interval (the row is provably unmatched). Outer results are thus delayed
  by design; tests/test_streaming_joins.py pins that they appear at all, and
  when.

Results equal the identical batch join over the union of all micro-batches
(pinned row-for-row in tests) — declarative interval semantics, so the
micro-batch boundaries never show in the output.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join_streams(
    left: DataFrame,
    right: DataFrame,
    key: str = "key",
    lower: str = "0 seconds",
    upper: str = "5 seconds",
    watermark: str = "10 seconds",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join of two (key, ts, value)
    streams. Output: (key, left_ts, left_value, right_ts, right_value).

    ``lower``/``upper``: the right-relative-to-left match window
    [l.ts + lower, l.ts + upper], INTERVAL strings (lower may be negative,
    e.g. "-2 seconds"). ``watermark`` applies to both sides and, with the
    interval, bounds the join state."""
    if how not in ("inner", "leftOuter"):
        raise ValueError(f"interval_join_streams: unsupported how={how!r}")
    l = (
        left.withWatermark("ts", watermark)
        .select(
            F.col(key).alias("key"),
            F.col("ts").alias("left_ts"),
            F.col("value").alias("left_value"),
        )
    )
    r = (
        right.withWatermark("ts", watermark)
        .select(
            F.col(key).alias("r_key"),
            F.col("ts").alias("right_ts"),
            F.col("value").alias("right_value"),
        )
    )
    cond = (
        (l["key"] == r["r_key"])
        & (r["right_ts"] >= F.expr(f"left_ts + INTERVAL {_plain(lower)}"))
        & (r["right_ts"] <= F.expr(f"left_ts + INTERVAL {_plain(upper)}"))
    )
    return l.join(r, cond, how).select(
        "key", "left_ts", "left_value", "right_ts", "right_value"
    )


def interval_join_batch(
    left: DataFrame,
    right: DataFrame,
    key: str = "key",
    lower: str = "0 seconds",
    upper: str = "5 seconds",
    how: str = "inner",
) -> DataFrame:
    """The identical join over bounded inputs — the oracle the streaming
    variant is pinned against (same plan text minus watermarks)."""
    l = left.select(
        F.col(key).alias("key"),
        F.col("ts").alias("left_ts"),
        F.col("value").alias("left_value"),
    )
    r = right.select(
        F.col(key).alias("r_key"),
        F.col("ts").alias("right_ts"),
        F.col("value").alias("right_value"),
    )
    cond = (
        (l["key"] == r["r_key"])
        & (r["right_ts"] >= F.expr(f"left_ts + INTERVAL {_plain(lower)}"))
        & (r["right_ts"] <= F.expr(f"left_ts + INTERVAL {_plain(upper)}"))
    )
    return l.join(r, cond, how).select(
        "key", "left_ts", "left_value", "right_ts", "right_value"
    )


_UNIT_MS = {"millisecond": 1, "second": 1_000, "minute": 60_000, "hour": 3_600_000,
            "day": 86_400_000}
_INTERVAL = re.compile(r"\s*([+-]?(?:\d+\.?\d*|\.\d+))\s*([a-z]+?)s?\s*", re.IGNORECASE)


def _parse_interval(interval: str) -> tuple[str, str]:
    """'10 minutes' / '1 DAY' / '10minutes' -> ('10', 'minute'): one signed
    number and one unit from millisecond to day, case-insensitive, as in
    Spark's interval strings. Anything else (including injection-shaped
    input) is a ValueError naming the input."""
    m = _INTERVAL.fullmatch(str(interval))
    if m is None or m.group(2).lower() not in _UNIT_MS:
        raise ValueError(
            f"bad interval {interval!r}: want '<number> <unit>' with unit "
            "millisecond, second, minute, hour or day"
        )
    return m.group(1), m.group(2).lower()


def interval_ms(interval: str) -> int:
    """'10 minutes' -> 600000."""
    n, unit = _parse_interval(interval)
    return int(float(n) * _UNIT_MS[unit])


def _plain(interval: str) -> str:
    """'5 SECONDS' -> '5 second', safe to splice into an INTERVAL literal."""
    n, unit = _parse_interval(interval)
    return f"{n} {unit}"
