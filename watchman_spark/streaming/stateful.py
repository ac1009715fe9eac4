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


def _update(
    key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
) -> Iterable[pd.DataFrame]:
    """Fold one micro-batch of a sink's rows into its stored (total,
    convs_seen, first_ts, last_ts) and emit the one-row output frame."""
    total, convs_seen, first_ts, last_ts = state.get if state.exists else (0, 0, None, None)
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
    state.update((total, convs_seen, first_ts, last_ts))
    yield pd.DataFrame(
        {
            "sink": [key[0]],
            "total": [total],
            "batch_rows": [batch_rows],
            "convs_seen": [convs_seen],
            "first_ts": [first_ts],
            "last_ts": [last_ts],
        }
    )


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

