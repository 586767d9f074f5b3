"""Custom stateful streaming operator: per-key sessionization via
``applyInPandasWithState``.

``session_window()`` (windows.py) covers the built-in case; this
operator is the template for session semantics Spark can't express —
here: sessions carry running aggregates and close on an event-time
TIMEOUT rather than at query end, emitting each session exactly once
when the watermark passes ``last_event + gap``. (The reference has no
streaming at all; SURVEY.md §2.10 requires custom stateful operators
as an engine capability.)

State per key is a LIST of open sessions (r11 advisor fix: the r10
version held only the newest session and emitted every earlier merged
session immediately, even when the watermark had not yet passed its
end + gap — a later in-watermark event could still bridge or extend
such a session, so append-mode output could diverge from the batch
``session_windows`` twin). A session is emitted only once
``last + gap < watermark``, at which point no acceptable future event
(all have ``ts >= watermark``) can merge into it — closure is now a
watermark fact, not an arrival-order heuristic, and parity with the
batch twin holds for ANY in-watermark arrival order. The list stays
small: all open sessions except possibly the oldest end within
``gap + watermark_delay`` of the max seen event time, so its length
is bounded by how far ahead of the watermark a key's events run,
never by stream length.

DST (r12 advisor fix): the worker's epoch basis is the JVM-computed
``unix_micros(ts)`` column, never a pandas re-localization of the
naive wall times Arrow hands over — so input events in a fall-back
repeated hour keep their true instants and sessionize identically to
the batch ``session_windows`` twin. Output bounds are emitted as
TZ-AWARE timestamps (Arrow carries the instant; verified to
round-trip exactly through the state serializer even inside the
repeated hour), so neither direction ever performs an ambiguous
local→epoch conversion.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

def output_schema(key_col: str = "user_id", key_type: str = "bigint") -> str:
    """Output schema for the given key column — hardcoding
    'user_id bigint' broke any non-default key name/type while the
    API advertised key_col as configurable (r9 review finding)."""
    return (
        f"{key_col} {key_type}, window_start timestamp, "
        "window_end timestamp, n_events bigint, sum_value double"
    )


# open sessions as parallel arrays (epoch-MICROSECOND bigints for the
# bounds: array<timestamp> round-trips through the state encoder less
# predictably than plain longs, and micros is parquet's native unit)
STATE_SCHEMA = (
    "starts array<bigint>, lasts array<bigint>, "
    "ns array<bigint>, svs array<double>"
)

_US = 1_000  # micros per milli


def _session_fn(gap_seconds: int, key_col: str = "user_id", tz: str = "UTC"):
    gap_us = gap_seconds * 1_000_000

    # TZ basis (r11 review finding): Arrow hands the worker
    # SESSION-LOCAL naive timestamps, but getCurrentWatermarkMs() and
    # setTimeoutTimestamp() are TRUE epoch millis — comparing local
    # micros to the watermark shifts closure by the session-tz offset
    # (premature emission west of UTC, withheld sessions east). All
    # internal state/arithmetic is true epoch micros, taken from the
    # JVM-computed ``ts_us`` column (r12 advisor fix: re-localizing
    # the naive values with pandas resolved DST fall-back-ambiguous
    # wall times differently from Spark's own conversion, so a session
    # straddling the repeated hour could diverge from the batch twin
    # by the DST offset — unix_micros() carries the original instant,
    # so no local→epoch conversion happens in the worker at all).
    # Output bounds stay TZ-AWARE for the same reason: a naive bound
    # inside the repeated fall-back hour would be re-interpreted at
    # the earlier offset on the way back; the Arrow state serializer
    # carries the aware instant exactly (probed on Spark 4.1).
    def _to_local(epoch_us: int) -> pd.Timestamp:
        return pd.Timestamp(epoch_us, unit="us", tz="UTC").tz_convert(tz)

    def _emit(user_id, s):
        start_us, last_us, n, sv = s
        return (
            user_id,
            _to_local(start_us),
            _to_local(last_us + gap_us),
            int(n),
            float(sv),
        )

    def _held(state) -> list[list]:
        if not state.exists:
            return []
        starts, lasts, ns, svs = state.get
        return [
            [int(a), int(b), int(c), float(d)]
            for a, b, c, d in zip(starts, lasts, ns, svs)
        ]

    def _store(state, kept: list[list], wm_ms: int) -> None:
        if not kept:
            state.remove()
            return
        state.update((
            [s[0] for s in kept],
            [s[1] for s in kept],
            [s[2] for s in kept],
            [s[3] for s in kept],
        ))
        # re-arm at the earliest closure point; Spark requires the
        # timeout to sit strictly beyond the current watermark
        min_close_ms = min(s[1] + gap_us for s in kept) // _US
        state.setTimeoutTimestamp(max(min_close_ms, wm_ms + 1))

    def fn(key, pdfs: Iterator[pd.DataFrame], state) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * _US
        closed: list[tuple] = []

        if state.hasTimedOut:
            # the watermark passed the earliest open session's
            # last+gap: close every session no future in-watermark
            # event (ts >= wm) can still merge into; keep the rest
            sessions = _held(state)
            kept = []
            for s in sessions:
                if s[1] + gap_us < wm_us:
                    closed.append(_emit(user_id, s))
                else:
                    kept.append(s)
            _store(state, kept, wm_ms)
        else:
            # ONE global sort over the concatenated Arrow chunks: a
            # hot key spanning multiple chunks (maxRecordsPerBatch)
            # sorted each chunk independently, so chunk 2 could start
            # before chunk 1 ended and the walk saw disorder even for
            # in-order data (r9 review finding)
            # sort on the INSTANT (ts_us), not the naive-local ts: a
            # fall-back DST hour repeats wall times, so a local sort
            # could disorder events that are strictly increasing in
            # real time
            frames = [pdf for pdf in pdfs]
            pdf = (
                pd.concat(frames, ignore_index=True).sort_values("ts_us")
                if len(frames) > 1
                else frames[0].sort_values("ts_us")
                if frames
                else pd.DataFrame(columns=["ts_us", "value"])
            )
            # general interval sweep over (batch events + ALL held
            # open sessions) in TIME order — exactly the batch
            # session_windows gap-merge (inclusive <= gap)
            items = [
                [int(e), int(e), 1, float(val)]
                for e, val in zip(pdf["ts_us"], pdf["value"])
            ]
            items.extend(_held(state))
            items.sort(key=lambda t: (t[0], t[1]))
            sessions: list[list] = []
            for it in items:
                if sessions and it[0] - sessions[-1][1] <= gap_us:
                    last = sessions[-1]
                    last[1] = max(last[1], it[1])
                    last[2] += it[2]
                    last[3] += it[3]
                else:
                    sessions.append(list(it))
            # emit ONLY watermark-closed sessions (r11 advisor fix):
            # an earlier merged session that the watermark has not yet
            # passed could still be bridged by a late in-watermark
            # event, so it stays open in state
            kept = []
            for s in sessions:
                if s[1] + gap_us < wm_us:
                    closed.append(_emit(user_id, s))
                else:
                    kept.append(s)
            _store(state, kept, wm_ms)

        if closed:
            yield pd.DataFrame(
                closed,
                columns=[key_col, "window_start", "window_end",
                         "n_events", "sum_value"],
            )

    return fn


def streaming_sessionize(
    spark,
    source_dir: str,
    schema: str,
    gap_seconds: int = 900,
    watermark: str = "30 minutes",
    key_col: str = "user_id",
    key_type: str = "bigint",
):
    """File source → watermark → stateful sessionizer. Returns the
    unstarted streaming DataFrame (attach a sink + trigger). Output
    rows are CLOSED sessions only — closed meaning the event-time
    watermark passed ``last + gap`` — emitted exactly once; semantics
    match ``session_windows`` (gap-merge inclusive, end = last+gap)
    for every in-watermark arrival order."""
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    # Arrow hands the worker session-LOCAL naive timestamps while the
    # GroupState watermark/timeout API is true epoch — capture the
    # session timezone so the worker can convert (r11 review finding:
    # a non-UTC session tz shifted closure by the UTC offset)
    tz = spark.conf.get("spark.sql.session.timeZone")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(source_dir)
        .withColumn("ts", F.col("ts").cast("timestamp"))
        .withWatermark("ts", watermark)
        # true epoch micros, computed by the SAME engine that drives
        # the watermark — the worker does all session arithmetic on
        # this instant and never converts local→epoch itself (DST
        # fall-back wall times are ambiguous; r12 advisor fix)
        .withColumn("ts_us", F.unix_micros(F.col("ts")))
    )
    return stream.groupBy(key_col).applyInPandasWithState(
        _session_fn(gap_seconds, key_col, tz),
        outputStructType=output_schema(key_col, key_type),
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
