"""Custom stateful streaming operator: running per-sink counters with
arbitrary user state (``applyInPandasWithState``).

The built-in streaming ``groupBy().count()`` covers plain running counts
(SURVEY.md §2.8 T6); this operator is the CUSTOM-state surface — it keeps
(count, first_ts, last_ts, distinct-conv sketch size) per sink across
micro-batches, the kind of enriched counter a log processor exports to
monitoring. State lives in the executor state store, checkpointed per
trigger; Arrow-batched both directions (no per-row Python)."""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = (
    "sink string, total long, batch_rows long, convs_seen long, "
    "first_ts timestamp, last_ts timestamp"
)
STATE_SCHEMA = "total long, convs_seen long, first_ts timestamp, last_ts timestamp"


def _fold(
    sink: str, prev: tuple | None, pdfs: Iterable[pd.DataFrame]
) -> tuple[tuple, pd.DataFrame]:
    """Fold one micro-batch of a sink's rows into its counters. ``prev``
    is the stored (total, convs_seen, first_ts, last_ts) or None; returns
    the new state and the one-row output frame."""
    total, convs_seen, first_ts, last_ts = prev if prev is not None else (0, 0, None, None)
    batch_rows = 0
    convs = set()
    for pdf in pdfs:
        batch_rows += len(pdf)
        convs.update(pdf["conv_id"])
        lo, hi = pdf["ts"].min(), pdf["ts"].max()
        first_ts = lo if first_ts is None else min(first_ts, lo)
        last_ts = hi if last_ts is None else max(last_ts, hi)
    total += batch_rows
    # NOTE: convs_seen accumulates per-batch distinct counts (an upper
    # bound, not a global distinct — exact global distinct needs the
    # dropDuplicates operator upstream; at scale you'd keep an HLL sketch
    # in the state blob instead)
    convs_seen += len(convs)
    row = pd.DataFrame(
        {
            "sink": [sink],
            "total": [total],
            "batch_rows": [batch_rows],
            "convs_seen": [convs_seen],
            "first_ts": [first_ts],
            "last_ts": [last_ts],
        }
    )
    return (total, convs_seen, first_ts, last_ts), row


def _update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    new, row = _fold(key[0], state.get if state.exists else None, pdfs)
    state.update(new)
    yield row


def running_sink_counters(tagged: DataFrame) -> DataFrame:
    """tagged: a STREAMING DataFrame with (sink, conv_id, ts). Emits one
    updated counter row per sink per micro-batch."""
    return tagged.select("sink", "conv_id", "ts").groupBy("sink").applyInPandasWithState(
        _update,
        outputStructType=OUTPUT_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------------
# Spark 4 transformWithStateInPandas variant (the successor API:
# composable typed state variables, timers, TTL). Runtime execution needs
# the RocksDB state store AND the google.protobuf package for the
# state-server protocol; protobuf is absent in this sandbox, so the full
# run is covered by a skip-marked test while plan construction (the JVM
# side) is asserted unconditionally — the applyInPandasWithState variant
# above remains the in-sandbox-verified implementation of T6.
# ---------------------------------------------------------------------------

def _tws_available() -> bool:
    try:
        import google.protobuf.descriptor  # noqa: F401

        return True
    except ImportError:
        return False


def make_sink_counter_processor():
    """Build the StatefulProcessor class lazily (the import is cheap and
    present in pyspark 4.x; only RUNNING it needs protobuf)."""
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class SinkCounterProcessor(StatefulProcessor):
        """Same counters as _update, on the typed-state API: one ValueState
        per sink holding (total, convs_seen, first_ts, last_ts)."""

        def init(self, handle: StatefulProcessorHandle) -> None:
            self.totals = handle.getValueState("totals", STATE_SCHEMA)

        def handleInputRows(self, key, rows, timer_values):
            prev = self.totals.get() if self.totals.exists() else None
            new, row = _fold(key[0], prev, rows)
            self.totals.update(new)
            yield row

        def close(self) -> None:
            pass

    return SinkCounterProcessor()


def running_sink_counters_tws(tagged: DataFrame) -> DataFrame:
    """running_sink_counters on transformWithStateInPandas. Requires the
    RocksDB state store provider on the session:

        spark.sql.streaming.stateStore.providerClass =
          org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider
    """
    from pyspark.sql.types import _parse_datatype_string

    return (
        tagged.select("sink", "conv_id", "ts")
        .groupBy("sink")
        .transformWithStateInPandas(
            make_sink_counter_processor(),
            outputStructType=_parse_datatype_string(OUTPUT_SCHEMA),
            outputMode="Update",
            timeMode="None",
        )
    )
