"""Stateful streaming operators (P2/P3 in streaming form).

The reference keeps two scalars of state per stream: ``last_price`` for the
change gate (``asyncio scraping.py:16, 80``) and ``first_price`` for the
variation anchor (``asyncio scraping.py:15, 45-52``). Here that state is
keyed (millions of tickers, not one) and managed by Spark's state store via
``applyInPandasWithState`` — checkpointed, fault-tolerant, O(1) per key.

Within a micro-batch rows are sorted by event time before applying the
gate, so batch/stream parity holds when the source delivers in order (the
file drop-zone does); true out-of-order streams need the watermarked window
operators in streaming/windows.py instead.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

__all__ = ["streaming_ticks"]

_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("variation", T.DoubleType()),
    ]
)

# state = (last_price, first_price): exactly the two instance attributes of
# LVMHPriceScraper (asyncio scraping.py:15-16), per key.
_STATE_SCHEMA = T.StructType(
    [
        T.StructField("last_price", T.DoubleType()),
        T.StructField("first_price", T.DoubleType()),
    ]
)


def _collect_batch(pdfs: Iterator[pd.DataFrame]) -> pd.DataFrame | None:
    """Concatenate a key's Arrow chunks and sort ONCE across the whole
    micro-batch. applyInPandasWithState delivers a key's batch as multiple
    chunks when rows exceed ``spark.sql.execution.arrow.maxRecordsPerBatch``,
    and chunk order is partition arrival order — sorting each chunk
    independently would silently reorder rows across chunk boundaries and
    corrupt any sequential recurrence."""
    chunks = [p for p in pdfs if len(p)]
    if not chunks:
        return None
    pdf = chunks[0] if len(chunks) == 1 else pd.concat(chunks, ignore_index=True)
    return pdf.sort_values(["ts", "event_id"], ignore_index=True)


def _gate_batch(
    user_id, pdf: pd.DataFrame, last_price, first_price
) -> tuple[pd.DataFrame | None, Any, Any]:
    """Vectorized change-gate + anchored variation over one sorted batch.

    The consecutive-distinct gate (scraper:80) retains row i iff its price
    differs from the last RETAINED price — which always equals row i-1's
    price (an unretained row's price equals the last retained one by
    definition), so the gate is exactly a pandas shift-compare; only the
    cross-batch seam (row 0 vs the carried ``last_price``) is scalar.
    Division/subtraction are the same elementwise IEEE ops as the old
    per-row loop, so outputs are bit-identical.
    """
    prices = pdf["value"].astype("float64")
    keep = prices.ne(prices.shift())  # NaN prev → True: first row kept
    if last_price is not None:
        keep.iat[0] = bool(prices.iat[0] != last_price)
    new_last = float(prices.iat[-1])
    kept = pdf.loc[keep]
    if not len(kept):
        return None, new_last, first_price
    if first_price is None:  # scraper:47-48
        first_price = float(kept["value"].iat[0])
    out = kept[["event_id", "ts", "value"]].copy()
    out.insert(0, "user_id", user_id)
    out["variation"] = out["value"].astype("float64") / first_price - 1.0
    return out, new_last, first_price


def _apply_gate(
    key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    (user_id,) = key
    last_price, first_price = state.get if state.exists else (None, None)
    pdf = _collect_batch(pdfs)
    if pdf is not None:
        out, last_price, first_price = _gate_batch(user_id, pdf, last_price, first_price)
        state.update((last_price, first_price))
        if out is not None:
            yield out
    else:
        state.update((last_price, first_price))


def streaming_ticks(ticks: DataFrame) -> DataFrame:
    """Change-dedup + anchored variation over an unbounded keyed tick stream
    (the full E1 scraper pipeline minus I/O), with per-key state."""
    return (
        ticks.groupBy("user_id")
        .applyInPandasWithState(
            _apply_gate,
            outputStructType=_OUT_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Stateful Holt-Winters: O(period) state per key
# ---------------------------------------------------------------------------

_HW_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("hw_level", T.DoubleType()),
        T.StructField("hw_trend", T.DoubleType()),
        T.StructField("hw_seasonal", T.DoubleType()),
    ]
)

# state = (position counter, level, trend, seasonal array) — the full
# Holt-Winters recurrence state; the array shows the state store carrying a
# non-scalar field (schema'd, checkpointed) beyond the reference's two
# scalars.
_HW_STATE_SCHEMA = T.StructType(
    [
        T.StructField("pos", T.LongType()),
        T.StructField("lvl", T.DoubleType()),
        T.StructField("trd", T.DoubleType()),
        T.StructField("seas", T.ArrayType(T.DoubleType())),
    ]
)


def streaming_holt_winters(
    ticks: DataFrame,
    alpha: float = 0.5,
    beta: float = 0.3,
    gamma: float = 0.2,
    period: int = 24,
) -> DataFrame:
    """Streaming twin of ``operators/rolling.py::holt_winters``: the exact
    same recurrence (identical IEEE op order → bit-identical outputs under
    in-order delivery), with (pos, level, trend, seasonal[period]) carried
    in the state store per key — O(period) state, unbounded stream."""
    a, oma = float(alpha), 1.0 - float(alpha)
    b, omb = float(beta), 1.0 - float(beta)
    g, omg = float(gamma), 1.0 - float(gamma)
    m = int(period)

    def gate(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        if state.exists:
            pos, lvl, trd, seas = state.get
            seas = list(seas)
        else:
            pos, lvl, trd, seas = -1, 0.0, 0.0, [0.0] * m
        rows = []
        pdf = _collect_batch(pdfs)
        if pdf is not None:
            for r in pdf.itertuples(index=False):
                x = float(r.value)
                if pos < 0:
                    pos, lvl, trd, seas = 0, x, 0.0, [0.0] * m
                else:
                    pos += 1
                    idx = pos % m
                    new_lvl = a * (x - seas[idx]) + oma * (lvl + trd)
                    trd = b * (new_lvl - lvl) + omb * trd
                    seas[idx] = g * (x - new_lvl) + omg * seas[idx]
                    lvl = new_lvl
                rows.append((user_id, int(r.event_id), r.ts, x, lvl, trd, seas[pos % m]))
        state.update((pos, lvl, trd, seas))
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "user_id", "event_id", "ts", "value",
                    "hw_level", "hw_trend", "hw_seasonal",
                ],
            )

    return ticks.groupBy("user_id").applyInPandasWithState(
        gate,
        outputStructType=_HW_OUT_SCHEMA,
        stateStructType=_HW_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


__all__.append("streaming_holt_winters")


# ---------------------------------------------------------------------------
# Stateful 1-D Kalman filter: O(1) state per key
# ---------------------------------------------------------------------------

_KF_OUT_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("kalman_x", T.DoubleType()),
        T.StructField("kalman_p", T.DoubleType()),
    ]
)

_KF_STATE_SCHEMA = T.StructType(
    [
        T.StructField("x", T.DoubleType()),
        T.StructField("p", T.DoubleType()),
    ]
)


def streaming_kalman_1d(ticks: DataFrame, q: float = 0.01, r: float = 0.1) -> DataFrame:
    """Streaming twin of ``operators/rolling.py::kalman_1d`` — the same IEEE
    recurrence (bit-identical outputs under in-order delivery) with (x, P)
    carried in the state store per key: O(1) state, unbounded stream. The
    chunk handling mirrors the other gates: concatenate + sort once per
    key per micro-batch (``_collect_batch``)."""
    qv, rv = float(q), float(r)

    def gate(
        key: tuple[Any, ...], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        x, p = state.get if state.exists else (None, None)
        pdf = _collect_batch(pdfs)
        if pdf is None:
            if x is not None:
                state.update((x, p))
            return
        rows = []
        for r_ in pdf.itertuples(index=False):
            z = float(r_.value)
            if x is None:
                x, p = z, 1.0
            else:
                pp = p + qv
                k = pp / (pp + rv)
                x = x + k * (z - x)
                p = (1.0 - k) * pp
            rows.append((user_id, int(r_.event_id), r_.ts, z, x, p))
        state.update((x, p))
        yield pd.DataFrame(
            rows, columns=["user_id", "event_id", "ts", "value", "kalman_x", "kalman_p"]
        )

    return ticks.groupBy("user_id").applyInPandasWithState(
        gate,
        outputStructType=_KF_OUT_SCHEMA,
        stateStructType=_KF_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


__all__.append("streaming_kalman_1d")
