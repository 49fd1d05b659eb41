"""Custom stateful streaming operators via applyInPandasWithState.

The charter requires custom stateful operators beyond built-in windowed
aggregation (SURVEY.md §2B / guide "Stateful"). The pattern here —
grouped Arrow batches + an explicit GroupState carrying a small tuple —
is the scalable shape: state lives in the state store (RocksDB on a real
cluster), partitioned by group key, and only the per-key running tuple
is held, never the events.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

RUNNING_TOTALS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
        T.StructField("max_value", T.DoubleType()),
    ]
)

RUNNING_TOTALS_STATE = T.StructType(
    [
        T.StructField("n", T.LongType()),
        T.StructField("total_units", T.LongType()),
        T.StructField("max", T.DoubleType()),
    ]
)

# fixed-point accumulation unit: each value is floored to integer
# micro-units before summing, so the running total is an exact int64 sum
# — reproducible across micro-batch boundaries, accumulation orders, and
# engines (floor(x * 1e6) of the same double is engine-independent; a
# float running sum is none of these). Standard money-style fixed point.
_UNITS = 1_000_000


def _update_running_totals(
    key: tuple, batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    import numpy as np

    (user_id,) = key
    n, total_units, mx = state.get if state.exists else (0, 0, float("-inf"))
    for pdf in batches:
        n += len(pdf)
        if len(pdf):
            v = pdf["value"].to_numpy(dtype="float64")
            total_units += int(np.floor(v * _UNITS).astype("int64").sum())
            mx = max(mx, float(v.max()))
    state.update((n, total_units, mx))
    yield pd.DataFrame(
        {
            "user_id": [user_id],
            "n_events": [n],
            "total_value": [total_units / _UNITS],
            "max_value": [mx],
        }
    )


def running_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running (count, sum, max) maintained across micro-batches.

    Emits the updated totals for every user seen in each micro-batch.
    State is one 3-tuple per user — bounded, store-backed, shuffled once
    on user_id.
    """
    return events.groupBy("user_id").applyInPandasWithState(
        _update_running_totals,
        outputStructType=RUNNING_TOTALS_OUTPUT,
        stateStructType=RUNNING_TOTALS_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )

