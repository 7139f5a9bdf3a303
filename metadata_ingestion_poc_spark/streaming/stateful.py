"""Custom stateful streaming operator via applyInPandasWithState.

Running per-user statistics that survive across micro-batches: event
count and value sum. State is per-key and, when ``timeout_ms`` is set,
bounded by a processing-time timeout — the pattern for any custom
streaming aggregator the built-in windowed aggs can't express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
)

STATE_SCHEMA = StructType(
    [
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("n_events", LongType()),
        StructField("total_value", DoubleType()),
    ]
)


def _make_update(timeout_ms: int):
    """Build the per-group update fn (factored out so the eviction /
    accumulation logic is unit-testable with a fake GroupState)."""

    def update(key, pdfs, state: GroupState):
        import pandas as pd

        if timeout_ms > 0 and state.hasTimedOut:
            # key idle past the horizon: evict its state. Emits nothing;
            # if the key reappears its totals restart from zero.
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": pd.Series([], dtype="int64"),
                    "n_events": pd.Series([], dtype="int64"),
                    "total_value": pd.Series([], dtype="float64"),
                }
            )
            return
        n, total = (state.get if state.exists else (0, 0.0))
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        total = round(total, 6)
        state.update((n, total))
        if timeout_ms > 0:
            # re-arm on every batch the key appears in: the clock
            # measures idleness, not total lifetime.
            state.setTimeoutDuration(timeout_ms)
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
        )

    return update


def running_user_totals(events: DataFrame, timeout_ms: int = 0) -> DataFrame:
    """Streaming per-user running totals with explicit state.

    Each micro-batch updates (n_events, total_value) per user and emits
    the new running totals — the custom-operator shape for sessionizers,
    CDC reducers, online feature aggregates, etc.

    timeout_ms > 0 enables ProcessingTimeTimeout: a key idle for that
    long is evicted at a later micro-batch. REQUIRED on unbounded key
    domains — with NoTimeout (the 0 default, fine for bounded keys)
    state grows forever. With timeout_ms > 0 an ``availableNow``
    stream does not end by itself: it keeps running no-data batches
    to check timeouts, and ``processAllAvailable()`` is no reliable
    wait either. ``stop()`` it once a no-data batch shows the input
    is in.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if timeout_ms > 0
        else GroupStateTimeout.NoTimeout
    )
    return events.groupBy("user_id").applyInPandasWithState(
        _make_update(timeout_ms),
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=timeout,
    )


def tws_capability_error() -> None:
    """Raise a clear error when transformWithStateInPandas cannot run
    here (python protobuf missing), instead of a worker crash deep in
    the stream."""
    try:
        from google.protobuf import descriptor  # noqa: F401
    except ImportError as e:
        raise RuntimeError(
            "transformWithStateInPandas needs the python 'protobuf' "
            "package (state-server protocol); not installed in this "
            "environment"
        ) from e

def running_user_totals_tws(
    events: DataFrame, ttl_ms: int = 0
) -> DataFrame:
    """``running_user_totals`` on the Spark 4 ``transformWithStateInPandas``
    API (the successor to applyInPandasWithState): typed per-key
    ValueState instead of a bare tuple, state TTL instead of manual
    timeout timers, and a StatefulProcessor object whose lifecycle
    (init/handleInputRows/close) the engine manages.

    Semantics are identical to the classic twin (same output schema,
    same running totals) so the two operators form a migration pair:
    ttl_ms > 0 evicts keys idle past the horizon, like timeout_ms
    there.

    ENVIRONMENT NOTE: executing transformWithStateInPandas requires
    the python ``protobuf`` package (the state-server protocol);
    this sandbox has no ``google.protobuf`` and no network to install
    it (checked 2026-08-14 — the query fails at runner init with
    ``ImportError: cannot import name 'descriptor'``). The test
    skips with a capability probe; the classic applyInPandasWithState
    twin (above) carries the executable coverage of the semantics.
    """
    tws_capability_error()
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningTotals(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            if ttl_ms > 0:
                self._totals = handle.getValueState(
                    "totals", STATE_SCHEMA, ttl_duration_ms=ttl_ms
                )
            else:
                self._totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            import pandas as pd

            prev = self._totals.get()
            n, total = prev if prev is not None else (0, 0.0)
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            total = round(total, 6)
            self._totals.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [total]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningTotals(),
        outputStructType=OUTPUT_SCHEMA,
        outputMode="Update",
        timeMode="None",
    )
