"""Structured Streaming analytics: watermarked windowed aggregation and a
custom stateful operator (``applyInPandasWithState``).

The batch engine's events queries (queries.py: events_hourly,
events_sessionize) re-expressed for unbounded input:

* :func:`stream_events_hourly` — event-time tumbling window + watermark,
  the standard late-data-tolerant streaming aggregate. State is bounded
  by the watermark: windows older than (max event time − delay) finalize
  and their state is dropped.
* :func:`stream_user_totals` — per-user running totals with explicit
  state (``applyInPandasWithState``): the pattern for operators Spark's
  built-in aggregates can't express (per-key custom accumulation,
  session carving, model state). State lives in the state store, sharded
  by key hash — scales with executors, survives restarts through the
  checkpoint.
"""

from __future__ import annotations

from typing import Any, Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from fastobo_py_spark.worker import prune_zip_importers


def stream_events_hourly(events: DataFrame, watermark: str = "30 days") -> DataFrame:
    """Tumbling 1-hour event-time windows with a late-data watermark.

    (window_start, event_type, n_events, sum_value) — the streaming dual
    of the batch ``events_hourly`` query. ``watermark`` bounds how late
    an event may arrive and still be aggregated; it also bounds the state
    store (closed windows are evicted).
    """
    # event-time watermarks require TIMESTAMP (parquet NTZ is tz-less;
    # session tz is UTC so the cast is value-preserving)
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("hour"), "event_type", "n_events", "sum_value")
    )


USER_TOTALS_OUTPUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value_e4", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)

USER_TOTALS_STATE = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("sum_value_e4", T.LongType()),
        T.StructField("last_ts_us", T.LongType()),
    ]
)


def _user_totals_fn(
    key: Tuple[Any, ...], batches: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Stateful kernel: accumulate (count, sum, last event time) per user
    across micro-batches. Values carried as e4-fixed-point integers so the
    state is exact (float state would drift across accumulation orders)."""
    prune_zip_importers()
    n, s, last = state.get if state.exists else (0, 0, 0)
    from decimal import ROUND_HALF_UP, Decimal

    for pdf in batches:
        n += len(pdf)
        # per-ROW fixed-point rounding: batching-invariant, so the result
        # is identical however the stream is micro-batched. EXACT decimal
        # HALF_UP via Decimal(repr(v)) — Spark's F.round(double) goes
        # through BigDecimal.valueOf (the shortest decimal repr, same as
        # Python repr), so this matches the batch mirror bit-for-bit;
        # the earlier float trick floor(|v|*1e4 + 0.5) diverged on binary
        # boundary doubles where the +0.5 itself rounded.
        # F.sum in the batch mirror ignores nulls; a NaN would otherwise
        # cast to INT64_MIN and permanently corrupt the state.
        v = pdf["value"].to_numpy(dtype="float64")
        v = v[~np.isnan(v)]
        s += sum(
            int(Decimal(repr(float(x))).scaleb(4).to_integral_value(ROUND_HALF_UP)) for x in v
        )
        if len(pdf):
            last = max(last, int(pdf["ts"].astype("int64").max()) // 1000)  # ns → µs
    state.update((n, s, last))
    yield pd.DataFrame([{"user_id": key[0], "n_events": n, "sum_value_e4": s, "last_ts_us": last}])


def stream_user_totals(events: DataFrame) -> DataFrame:
    """Per-user running totals via ``applyInPandasWithState``.

    Emits one updated row per (user, micro-batch); the latest row per
    user is the current total. State shards by user hash across
    executors and persists in the streaming checkpoint.
    """
    return (
        events.select("user_id", "ts", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            _user_totals_fn,
            outputStructType=USER_TOTALS_OUTPUT,
            stateStructType=USER_TOTALS_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
