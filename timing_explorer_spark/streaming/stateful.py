"""Streaming time-weighted-average front half on applyInPandasWithState.

``twa_segments`` keeps (last_ts, last_value) per key and emits one LOCF
holding segment per arriving event; any time-bucketed
sum(held_value * dt) / sum(dt) downstream is the TWA. The operator-level
PseudoWindow lives in ``stateful_tws.py``.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

TWA_OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType(), False),
        StructField("seg_start", TimestampType(), False),
        StructField("dt_us", LongType(), False),
        StructField("held_value", DoubleType(), False),
    ]
)

TWA_STATE_SCHEMA = StructType(
    [
        StructField("last_ts_us", LongType(), False),
        StructField("last_value", DoubleType(), False),
    ]
)


def make_twa_segments_fn():
    """Streaming LOCF segment emitter — the stateful front half of a
    continuous time-weighted average (the streaming form of
    q_time_weighted_avg): per key, keep (last_ts, last_value); each arriving
    event CLOSES the previous observation's holding segment and emits
    (seg_start, dt_us, held_value). Downstream, any time-bucketed
    sum(held_value * dt)/sum(dt) over the segments is the TWA — a plain
    algebraic aggregate, because the hard sequential part (who holds the
    clock between observations) happened here. State is two scalars per key."""

    def fn(
        key: tuple[str],
        pdfs: Iterable["pd.DataFrame"],
        state: GroupState,
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        last = state.get if state.exists else None
        starts, dts, vals = [], [], []
        for pdf in pdfs:
            pdf = pdf.sort_values("ts")
            ts_us = (pdf["ts"].astype("int64") // 1_000).to_numpy()
            values = pdf["value"].to_numpy()
            for t, v in zip(ts_us.tolist(), values.tolist()):
                if last is not None:
                    starts.append(last[0])
                    dts.append(t - last[0])
                    vals.append(last[1])
                last = (t, float(v))
        if last is not None:
            state.update((int(last[0]), float(last[1])))
        if starts:
            yield pd.DataFrame(
                {
                    "key": [key[0]] * len(starts),
                    "seg_start": pd.to_datetime(starts, unit="us"),
                    "dt_us": dts,
                    "held_value": vals,
                }
            )

    return fn


def twa_segments(sensors: DataFrame) -> DataFrame:
    """Continuous LOCF segments over the keyed sensor stream."""
    return sensors.groupBy("key").applyInPandasWithState(
        make_twa_segments_fn(),
        outputStructType=TWA_OUTPUT_SCHEMA,
        stateStructType=TWA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
