"""PseudoWindow on the Spark 4 transformWithStateInPandas API — true
MapState + per-window timers + offline state rehydration.

This is the closest structural analog of the reference operator that Spark
offers (SURVEY §2 rows 8, 13-14):

  reference (PseudoWindow.java / ChangeBackend.java)   here
  ---------------------------------------------------  ----------------------
  MapState<Long,Integer> window→count (:36,52-56)      handle.getMapState
  one registered timer PER window end (:88-90)         handle.registerTimer
                                                         per window (TWS keeps
                                                         multiple timers/key)
  onTimer: emit + clear that window (:92-99)           handleExpiredTimer
  WindowBootstrapper: rehydrate MapState and           handleInitialState over
    re-register timers from a savepoint                  an initialState
    (ChangeBackend.java:125-154)                         GroupedData

Requires the RocksDB state store provider
(streaming/state.py::rocksdb_state_conf), which is also the reference's
target backend — ChangeBackend's entire migration job reduces to that one
config plus this initial-state hook.

One processor serves both time modes: ``ProcTimePseudoWindowProcessor``
only re-buckets input by processing time; state, timers and emission are
shared.

NOTE: the TWS Python runner imports protobuf. On images without it, the
repo's vendored minimal proto3 runtime (compat.ensure_protobuf(),
``_vendor/google/protobuf``) supplies the wire codec, so
tests/test_stateful_tws.py runs everywhere; a real protobuf install always
takes precedence.
"""

from __future__ import annotations

from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.stateful_processor import (
    ExpiredTimerInfo,
    StatefulProcessor,
    StatefulProcessorHandle,
    TimerValues,
)
from pyspark.sql.types import LongType, StringType, StructField, StructType, TimestampType

from .state import read_window_state

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd

OUTPUT_SCHEMA = StructType(
    [
        StructField("key", StringType()),
        StructField("window_end_label", TimestampType()),
        StructField("value", LongType()),
    ]
)


class PseudoWindowProcessor(StatefulProcessor):
    """Keyed tumbling count windows with end-inclusive labels
    (PseudoWindow.java:74-99 semantics)."""

    def __init__(self, duration_ms: int = 1000) -> None:
        self.duration_ms = duration_ms

    def init(self, handle: StatefulProcessorHandle) -> None:
        self.handle = handle
        self.windows = handle.getMapState("windows", "end long", "cnt long")

    def _bump(self, end: int, by: int) -> None:
        k = (end,)
        cur = self.windows.getValue(k)[0] if self.windows.containsKey(k) else 0
        self.windows.updateValue(k, (cur + by,))

    def handleInputRows(
        self, key, rows, timerValues: TimerValues
    ) -> Iterator["pd.DataFrame"]:
        import numpy as np

        for pdf in rows:
            ts_ms = (pdf["ts"].astype("int64") // 1_000_000).to_numpy()
            ends = ts_ms - (ts_ms % self.duration_ms) + self.duration_ms - 1
            uniq, cnt = np.unique(ends, return_counts=True)
            for e, c in zip(uniq.tolist(), cnt.tolist()):
                e = int(e)
                self._bump(e, int(c))
                # One timer per window, at end+1 (end is inclusive) — exact
                # registerEventTimeTimer parity. Duplicate registrations of
                # the same timestamp are idempotent.
                self.handle.registerTimer(e + 1)
        return iter(())

    def handleExpiredTimer(
        self, key, timerValues: TimerValues, expiredTimerInfo: ExpiredTimerInfo
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        end = expiredTimerInfo.getExpiryTimeInMs() - 1
        k = (end,)
        if not self.windows.containsKey(k):
            return iter(())
        cnt = self.windows.getValue(k)[0]
        self.windows.removeKey(k)
        yield pd.DataFrame(
            {
                "key": [key[0]],
                "window_end_label": pd.to_datetime([end], unit="ms"),
                "value": [int(cnt)],
            }
        )

    def handleInitialState(self, key, initialState, timerValues: TimerValues) -> None:
        """WindowBootstrapper parity: rehydrate (window_end_ms, count) into
        MapState and re-register the window's timer
        (ChangeBackend.java:125-154)."""
        end = int(initialState["window_end_ms"])
        self._bump(end, int(initialState["count"]))
        self.handle.registerTimer(end + 1)

    def close(self) -> None:
        pass


def read_tws_window_state(spark, checkpoint_dir: str) -> DataFrame:
    """PseudoWindowReaderFunction parity over the TWS operator
    (ChangeBackend.java:48-69): every (key, window_end, count) entry of the
    'windows' MapState, read offline from the checkpoint via the Spark 4
    statestore source; the reader decodes the named TWS state variable
    natively."""
    from pyspark.sql import functions as F

    return read_window_state(spark, checkpoint_dir, stateVarName="windows").select(
        F.col("key.key").alias("key"),
        F.timestamp_millis(F.col("user_map_key.end")).alias("window_end_label"),
        F.col("user_map_value.cnt").alias("count"),
    )


class ProcTimePseudoWindowProcessor(PseudoWindowProcessor):
    """PseudoWindow, processing-time mode (PseudoWindow.java:79-90): rows
    bucket into the CURRENT processing-time window — deliberately
    non-deterministic per window (the reference's teaching point) while the
    per-key total is conserved — and one processing-time timer per window
    end emits-and-clears it. Direct analog of the reference's
    ``registerProcessingTimeTimer`` branch on TWS's ``timeMode=
    processingTime`` runtime timers."""

    def handleInputRows(
        self, key, rows, timerValues: TimerValues
    ) -> Iterator["pd.DataFrame"]:
        n = sum(len(pdf) for pdf in rows)
        if not n:
            return iter(())
        now = timerValues.getCurrentProcessingTimeInMs()
        end = now - (now % self.duration_ms) + self.duration_ms - 1
        self._bump(end, n)
        self.handle.registerTimer(end + 1)
        return iter(())


def pseudo_window_tws_proctime(sensors: DataFrame, duration_ms: int = 1000) -> DataFrame:
    """Processing-time PseudoWindow on transformWithStateInPandas (true
    runtime timers; the reference's eventsProcessedPerSecond sink shape)."""
    return sensors.groupBy("key").transformWithStateInPandas(
        ProcTimePseudoWindowProcessor(duration_ms),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="append",
        timeMode="processingTime",
    )


def pseudo_window_tws(
    sensors: DataFrame,
    duration_ms: int = 1000,
    watermark: str = "0 seconds",
    initial_state: DataFrame | None = None,
) -> DataFrame:
    """Keyed tumbling count windows via transformWithStateInPandas.

    ``initial_state``: optional (key, window_end_ms, count) DataFrame to
    rehydrate before the first batch — the savepoint-bootstrap path. Output
    schema matches pipeline.event_time_windows."""
    grouped_init = initial_state.groupBy("key") if initial_state is not None else None
    return (
        sensors.withWatermark("ts", watermark)
        .groupBy("key")
        .transformWithStateInPandas(
            PseudoWindowProcessor(duration_ms),
            outputStructType=OUTPUT_SCHEMA,
            outputMode="append",
            timeMode="eventTime",
            initialState=grouped_init,
        )
    )
