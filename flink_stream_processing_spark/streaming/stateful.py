"""Custom per-key streaming operators on ``applyInPandasWithState``, for
per-key state machines that windowed aggregation and ``dropDuplicates``
can't express (SURVEY.md §2.6: the reference job keeps no keyed state).
All four run on one harness, ``_keyed_scan``: per key and micro-batch it
concatenates every Arrow chunk (a key's rows may arrive as several chunks
in any order), sorts once by ``(ts, event_id)``, hands the rows and the
key's state tuple to a pure ``step`` that returns the output rows and the
new state, and writes the state back even when the batch brought the key
no rows. The single sort makes each operator equal its batch
window-function oracle however the rows were chunked.
"""

from __future__ import annotations

from collections import deque
from typing import TYPE_CHECKING, Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

if TYPE_CHECKING:
    import numpy as np
    import pandas as pd


def _keyed_scan(
    events: DataFrame,
    cols: tuple[str, ...],
    step: Callable[[int, "pd.DataFrame", tuple], tuple],
    init: tuple,
    out_schema: StructType,
    state_schema: StructType,
) -> DataFrame:
    """Run ``step(user_id, pdf, state) -> (out_pdf | None, new_state)`` over
    each key's micro-batch rows (``user_id, event_id, ts, *cols``) sorted by
    ``(ts, event_id)``; ``init`` is the state of a key seen for the first
    time."""

    def scan(
        key: tuple, pdfs: Iterator["pd.DataFrame"], state: GroupState
    ) -> Iterator["pd.DataFrame"]:
        import pandas as pd

        st = tuple(state.get) if state.exists else init
        chunks = [pdf for pdf in pdfs if not pdf.empty]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(["ts", "event_id"])
            out, st = step(key[0], pdf, st)
            if out is not None:
                yield out
        state.update(st)

    return (
        events.select("user_id", "event_id", "ts", *cols)
        .groupBy("user_id")
        .applyInPandasWithState(
            scan,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


RUNNING_COUNT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("running_count", LongType()),
    ]
)

_STATE_SCHEMA = StructType([StructField("n", LongType())])


def _count_step(user_id: int, pdf: "pd.DataFrame", st: tuple):
    import pandas as pd

    (n,) = st
    out = pd.DataFrame(
        {
            "user_id": user_id,
            "event_id": pdf["event_id"].to_numpy(),
            "running_count": n + pd.RangeIndex(1, len(pdf) + 1),
        }
    )
    return out, (n + len(pdf),)


def running_event_counts(events: DataFrame) -> DataFrame:
    """Per-user running event counter: each input event is emitted with its
    1-based position in its key's lifetime, the streaming form of
    ``row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)``. The
    state is one long per key. Input needs (user_id, event_id, ts)
    columns; output is one row per input event."""
    return _keyed_scan(
        events, (), _count_step, (0,), RUNNING_COUNT_SCHEMA, _STATE_SCHEMA
    )


CEP_MATCH_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("purchase_id", LongType()),
        StructField("view_ms", LongType()),
        StructField("click_ms", LongType()),
        StructField("purchase_ms", LongType()),
    ]
)

# state: latest view ts, latest qualifying-click ts, that click's view ts
# (all epoch-nanos; sentinel = "none yet")
_CEP_STATE_SCHEMA = StructType(
    [
        StructField("lv", LongType()),
        StructField("lqc", LongType()),
        StructField("lqc_view", LongType()),
    ]
)

_CEP_NONE = -(2**62)
_CEP_WITHIN_NS = 600 * 10**9  # the pattern's 10-minute within-clause


def _shifted_cummax(init: int, x: "np.ndarray") -> "np.ndarray":
    """Running max of ``[init, *x]``: element i is the max of ``init`` and
    the values strictly before row i; the last element is the state after
    the whole batch."""
    import numpy as np

    return np.maximum.accumulate(np.concatenate(([init], x)))


def _cep_step(user_id: int, pdf: "pd.DataFrame", st: tuple):
    """Streaming CEP: view -> click -> purchase (relaxed contiguity, each
    step within 10 min of the previous) as a per-key incremental scan.
    Instead of an NFA object per key, the pattern's progress is three
    longs of state, advanced VECTORIZED over the batch: 'last view',
    'last qualifying click' and its view are shifted cummax arrays (all
    three are non-decreasing in event order, so a running max IS the
    sequential state machine). Matches batch `cep_funnel_sequences`
    exactly on a finite stream."""
    import numpy as np
    import pandas as pd

    lv0, lqc0, lqcv0 = st
    ts = pdf["ts"].to_numpy("datetime64[ns]").astype(np.int64)
    typ = pdf["event_type"].to_numpy()

    lv = _shifted_cummax(lv0, np.where(typ == "view", ts, _CEP_NONE))
    qual_click = (
        (typ == "click") & (lv[:-1] > _CEP_NONE) & (ts - lv[:-1] <= _CEP_WITHIN_NS)
    )
    lqc = _shifted_cummax(lqc0, np.where(qual_click, ts, _CEP_NONE))
    lqc_view = _shifted_cummax(lqcv0, np.where(qual_click, lv[:-1], _CEP_NONE))

    match = (
        (typ == "purchase")
        & (lqc[:-1] > _CEP_NONE)
        & (ts - lqc[:-1] <= _CEP_WITHIN_NS)
    )
    out = None
    if match.any():
        out = pd.DataFrame(
            {
                "user_id": user_id,
                "purchase_id": pdf["event_id"].to_numpy()[match],
                "view_ms": lqc_view[:-1][match] // 1_000_000,
                "click_ms": lqc[:-1][match] // 1_000_000,
                "purchase_ms": ts[match] // 1_000_000,
            }
        )
    return out, (int(lv[-1]), int(lqc[-1]), int(lqc_view[-1]))


def cep_funnel_matches(events: DataFrame) -> DataFrame:
    """Streaming CEP pattern matcher (see ``_cep_step``): input needs
    (user_id, event_id, ts, event_type); output one row per matched
    pattern occurrence (keyed by the purchase event)."""
    return _keyed_scan(
        events,
        ("event_type",),
        _cep_step,
        (_CEP_NONE, _CEP_NONE, _CEP_NONE),
        CEP_MATCH_SCHEMA,
        _CEP_STATE_SCHEMA,
    )


EWMA_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("value", DoubleType()),
        StructField("ewma", DoubleType()),
    ]
)

_EWMA_STATE_SCHEMA = StructType(
    [StructField("has_prev", LongType()), StructField("prev", DoubleType())]
)


def _ewma_step(user_id: int, pdf: "pd.DataFrame", st: tuple):
    """Streaming EWMA (α=0.2): one double of state per key (the previous
    smoothed value); each micro-batch continues the recursion exactly
    where the last one stopped, with the batch's rows sorted once —
    identical operand order to the batch operator and its recursive-CTE
    oracle, so all three agree bit-for-bit on a finite stream."""
    import pandas as pd

    has_prev, prev = st
    vals = pdf["value"].to_numpy()
    out = vals.copy()
    if has_prev:
        out[0] = 0.2 * vals[0] + 0.8 * prev
    for i in range(1, len(out)):
        out[i] = 0.2 * vals[i] + 0.8 * out[i - 1]
    rows = pd.DataFrame(
        {
            "user_id": user_id,
            "event_id": pdf["event_id"].to_numpy(),
            "value": vals.round(6),
            "ewma": out.round(6),
        }
    )
    return rows, (1, float(out[-1]))


def ewma_events(events: DataFrame) -> DataFrame:
    """Streaming per-key EWMA (see ``_ewma_step``): input needs
    (user_id, event_id, ts, value); output one smoothed row per event."""
    return _keyed_scan(
        events, ("value",), _ewma_step, (0, 0.0), EWMA_SCHEMA, _EWMA_STATE_SCHEMA
    )


ZSCORE_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
        StructField("zscore", DoubleType()),
    ]
)

# state: the key's trailing window of raw values (bounded ring buffer)
_ZSCORE_STATE_SCHEMA = StructType(
    [StructField("window", ArrayType(DoubleType()))]
)

_Z_FRAME = 20
_Z_THRESH = 2.5


def _zscore_step(user_id: int, pdf: "pd.DataFrame", st: tuple):
    """Streaming trailing-window z-score: per key, a bounded ring buffer
    of the last 20 raw values is the ENTIRE state (O(frame) per key — the
    same bound the batch ROWS frame holds); each event scores against the
    buffer BEFORE being pushed, i.e. a strictly out-of-sample deviation.
    Statistics use the textbook two-pass mean/ssq per event over the
    20-value buffer — identical math to the batch oracle's windowed
    avg/stddev_samp up to the 4-decimal rounding both sides apply."""
    import numpy as np
    import pandas as pd

    buf = deque(st[0], maxlen=_Z_FRAME)
    out_ids, out_vals, out_z = [], [], []
    for eid, v in zip(pdf["event_id"].to_numpy(), pdf["value"].to_numpy()):
        if len(buf) == _Z_FRAME:
            arr = np.asarray(buf)
            mu = arr.mean()
            sigma = arr.std(ddof=1)
            if sigma > 0:
                z = (v - mu) / sigma
                if abs(z) > _Z_THRESH:
                    out_ids.append(int(eid))
                    out_vals.append(round(float(v), 6))
                    out_z.append(round(float(z), 4))
        buf.append(float(v))
    out = None
    if out_ids:
        out = pd.DataFrame(
            {
                "event_id": out_ids,
                "user_id": user_id,
                "value": out_vals,
                "zscore": out_z,
            }
        )
    return out, (list(buf),)


def zscore_anomaly_stream(events: DataFrame) -> DataFrame:
    """Streaming anomaly detector (see ``_zscore_step``): input needs
    (user_id, event_id, ts, value); output one row per flagged event."""
    return _keyed_scan(
        events, ("value",), _zscore_step, ([],), ZSCORE_SCHEMA, _ZSCORE_STATE_SCHEMA
    )
