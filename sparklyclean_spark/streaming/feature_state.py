"""Online feature-store maintenance with ``transformWithStateInPandas``
(the Spark 4.x arbitrary-state API, successor to
``applyInPandasWithState``).

The shape: a keyed event stream continuously updates per-key lifetime
features (event count, value sum, last-seen timestamp) and emits the
refreshed feature row every time a key receives events — what an
online feature store consumes. Built-in streaming aggregation could
maintain the same three counters, but the processor template is the
point: typed per-key ``ValueState`` with schema evolution, timers,
and composite state live behind one class, and the new API runs on
the RocksDB state store (changelog-checkpointed, state size bounded
by #keys not stream length — the 100 TB-stream property).

Requires ``spark.sql.streaming.stateStore.providerClass`` =
RocksDBStateStoreProvider (transformWithState does not run on the
default HDFS-backed store); the session factory in this repo leaves
the default alone, so the caller sets it (see tests) — flipping the
provider only affects streaming state, nothing batch. The JVM state
server talks to the Python driver worker over protobuf, so the
runtime also needs a working ``google.protobuf`` — the e2e test is
marker-gated on that import (this container ships a broken/absent
protobuf; the plan construction below still builds and analyzes
without it).

No reference counterpart (the reference has no streaming); SURVEY
§2.10 custom-stateful-operator capability, modern-API variant of
``streaming/sessionize.py``.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql.streaming.stateful_processor import (
    StatefulProcessor,
    StatefulProcessorHandle,
)

def output_schema(key_col: str = "user_id", key_type: str = "bigint") -> str:
    """Output schema for the given key column (r9: was hardcoded to
    'user_id bigint' while key_col was advertised configurable)."""
    return f"{key_col} {key_type}, n_events bigint, sum_value double, last_ts timestamp"


_STATE_SCHEMA = "n bigint, sv double, last timestamp"


class LifetimeFeatures(StatefulProcessor):
    """Per-key running (count, sum, last event time); emits one
    refreshed feature row per key per micro-batch that touched it."""

    def __init__(self, key_col: str = "user_id") -> None:
        self._key_col = key_col

    def init(self, handle: StatefulProcessorHandle) -> None:
        self._state = handle.getValueState("features", _STATE_SCHEMA)

    def handleInputRows(
        self, key, rows: Iterator[pd.DataFrame], timerValues
    ) -> Iterator[pd.DataFrame]:
        n, sv, last = 0, 0.0, None
        if self._state.exists():
            n, sv, last = self._state.get()
        for pdf in rows:
            n += len(pdf)
            sv += float(pdf["value"].sum())
            batch_max = pdf["ts"].max()
            last = batch_max if last is None else max(last, batch_max)
        self._state.update((n, sv, last))
        yield pd.DataFrame(
            {
                self._key_col: [key[0]],
                "n_events": [n],
                "sum_value": [sv],
                "last_ts": [last],
            }
        )

    def close(self) -> None:
        pass


def streaming_lifetime_features(
    spark,
    source_dir: str,
    schema: str,
    key_col: str = "user_id",
    key_type: str = "bigint",
):
    """File source → transformWithStateInPandas feature maintainer.
    Returns the unstarted streaming DataFrame (attach sink + trigger).
    Output mode must be ``update`` (rows are per-key refreshes)."""
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir)
    )
    return stream.groupBy(key_col).transformWithStateInPandas(
        LifetimeFeatures(key_col),
        outputStructType=output_schema(key_col, key_type),
        outputMode="update",
        timeMode="None",
    )
