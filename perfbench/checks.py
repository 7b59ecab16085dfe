"""Reference recomputations of every output the benchmark reads back, in
pandas over the generated events, and the comparisons that count failures.

Late-row rule shared with the engine: a micro-batch drops rows older than
the watermark of the batch before it, so a planted late row read by one of
a query's first two batches is kept. ``late_dropped`` applies the rule to
the batches a query actually ran.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from gen import RISK_THRESHOLD, WATERMARK_MS

WINDOW_MS = 10_000
SESSION_GAP_MS = 3_000


def late_dropped(events: pd.DataFrame, published_rows: np.ndarray, batches) -> pd.Series:
    """Which planted late rows a windowed query dropped. ``batches`` is the
    query's (input rows, watermark ms) per micro-batch, in order; a batch
    reads whole files in publish order, and drops rows older than the
    watermark of the batch before it."""
    ends = np.cumsum(published_rows)
    late_wm = np.zeros(len(published_rows))
    read, first, prev_wm = 0, 0, 0.0
    for rows, wm in batches:
        if rows:
            read += rows
            last = int(np.searchsorted(ends, read))
            if last >= len(ends) or ends[last] != read:
                raise ValueError(f"a batch ended inside a file ({read} rows read)")
            late_wm[first : last + 1] = prev_wm
            first = last + 1
        prev_wm = wm
    return events["late"] & (events["ts"] < late_wm[events["file"].to_numpy()])


def _on_time_originals(events: pd.DataFrame) -> pd.DataFrame:
    """What the windowed queries aggregate: deduplicated, not dropped as
    late (``late`` marks the dropped rows)."""
    return events[~events["late"] & ~events["redelivered"]]


def expected_windows(events: pd.DataFrame, watermark_ms: float) -> pd.DataFrame:
    """The reference window metrics of every 10 s window the watermark
    closed (window end <= watermark)."""
    e = _on_time_originals(events).copy()
    e["window_start"] = (e["ts"] // WINDOW_MS) * WINDOW_MS
    ok = e["rate"] != 0.0
    e["ok_amount"] = e["amount"].where(ok)
    e["ok_rate"] = e["rate"].where(ok)
    e["ok"] = ok.astype(np.int64)
    g = e.groupby("window_start")
    out = pd.DataFrame(
        {
            "cnt": g.size(),
            "success_count": g["ok"].sum(),
            "avg_amount": (g["ok_amount"].sum() / g["ok"].sum()).fillna(0.0).round(6),
            "avg_exchange_rate": (g["ok_rate"].sum() / g["ok"].sum()).fillna(0.0).round(6),
            "min_amount": g["ok_amount"].min().fillna(0.0),
            "max_amount": g["ok_amount"].max().fillna(0.0),
        }
    ).reset_index()
    out["failure_count"] = out["cnt"] - out["success_count"]
    out["window_end"] = out["window_start"] + WINDOW_MS
    return out[out["window_end"] <= watermark_ms].reset_index(drop=True)


def compare_windows(got: pd.DataFrame, want: pd.DataFrame) -> tuple[int, int]:
    """(windows missing, extra or with any differing field, windows
    compared): a window is compared when it is expected or delivered."""
    got = got.set_index("window_start")
    want = want.set_index("window_start")
    bad = len(got.index.symmetric_difference(want.index))
    for ws in got.index.intersection(want.index):
        g, w = got.loc[ws], want.loc[ws]
        ints = ["window_end", "cnt", "success_count", "failure_count"]
        floats = ["avg_amount", "avg_exchange_rate", "min_amount", "max_amount"]
        if any(int(g[c]) != int(w[c]) for c in ints) or any(
            abs(float(g[c]) - float(w[c])) > 2e-6 for c in floats
        ):
            bad += 1
    return bad, len(got.index.union(want.index))


def expected_sessions(events: pd.DataFrame, watermark_ms: float) -> pd.DataFrame:
    """Per-sender sessions over the deduplicated on-time events, for every
    session the watermark closed. As in Spark, an event joins the open
    session when it is at most the gap (3 s) after the session's last
    event; sessions that touch merge."""
    e = _on_time_originals(events).sort_values(["sender", "ts"])
    new = (e["sender"] != e["sender"].shift()) | (e["ts"] - e["ts"].shift() > SESSION_GAP_MS)
    e = e.assign(sid=new.cumsum())
    g = e.groupby("sid")
    out = pd.DataFrame(
        {
            "senderId": g["sender"].first(),
            "session_start": g["ts"].min(),
            "session_end": g["ts"].max() + SESSION_GAP_MS,
            "n_events": g.size(),
        }
    ).reset_index(drop=True)
    return out[out["session_end"] <= watermark_ms].reset_index(drop=True)


def compare_sessions(got: pd.DataFrame, want: pd.DataFrame) -> tuple[int, int]:
    """(sessions missing or extra, sessions compared): a session is
    compared when it is expected or delivered."""
    cols = ["senderId", "session_start", "session_end", "n_events"]
    g = set(map(tuple, got[cols].astype({"n_events": "int64"}).itertuples(index=False)))
    w = set(map(tuple, want[cols].astype({"n_events": "int64"}).itertuples(index=False)))
    return len(g ^ w), len(g | w)


def expected_risk(events: pd.DataFrame) -> pd.DataFrame:
    """Risk rows the sink must deliver (deduplicated, late ones included),
    per published file: count and how many are labelled RISK."""
    e = events[~events["redelivered"]]
    e = e.assign(risk=(e["amount"] > RISK_THRESHOLD).astype(np.int64))
    return e.groupby("file").agg(n=("tx", "size"), risk=("risk", "sum"))


def compare_risk(got: pd.DataFrame, want: pd.DataFrame) -> int:
    """Events delivered wrongly: per file, the larger of the count and the
    RISK-label differences."""
    j = want.join(got, how="outer", lsuffix="_w", rsuffix="_g").fillna(0)
    return int(np.maximum((j["n_w"] - j["n_g"]).abs(), (j["risk_w"] - j["risk_g"]).abs()).sum())


def final_watermark(events: pd.DataFrame) -> float:
    return float(events["ts"].max() - WATERMARK_MS)


def closing_file(events: pd.DataFrame, window_end: np.ndarray) -> np.ndarray:
    """For each window end, the first published file whose records take
    the watermark (max event time seen minus 5 s) to it or past it."""
    per_file = events.groupby("file")["ts"].max().sort_index()
    reach = np.maximum.accumulate(per_file.to_numpy()) - WATERMARK_MS
    idx = np.searchsorted(reach, window_end, side="left")
    return per_file.index.to_numpy()[np.minimum(idx, len(reach) - 1)]


# ---------------------------------------------------------------- corpus

def shingles(text: str, n: int = 3) -> set[str]:
    t = text.strip().lower().split()
    return {" ".join(t[i : i + n]) for i in range(len(t) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def components(pairs: list[tuple[int, int]]) -> dict[int, int]:
    """Min-id label of every node that appears in a pair (union-find)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}
