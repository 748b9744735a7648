"""Output checks of ``tick_stream``, made apart from the engine.

- ``replay_ticks`` / ``expected_ledger_keys`` / ``rmse_by_merge_asof``: a
  pandas replay of the tick pipeline (change-dedup, anchored variation,
  forecast cadence, as-of scoring) over the generated polls.
- ``check_tick_stores``: compares the three stores with that replay and
  returns the list of mismatches (empty when the stores are right).
"""

from __future__ import annotations

import numpy as np
import pandas as pd


def replay_ticks(polls: pd.DataFrame) -> pd.DataFrame:
    """Change-dedup (a row is kept iff its price differs from the key's
    previous price) and anchored variation (price / first kept price - 1),
    per key in (ts, event_id) order."""
    df = polls.sort_values(["user_id", "ts", "event_id"], ignore_index=True)
    prev = df.groupby("user_id")["value"].shift()
    kept = df[prev.isna() | (df["value"] != prev)].copy()
    first = kept.groupby("user_id")["value"].transform("first")
    kept["variation"] = kept["value"] / first - 1.0
    return kept[["user_id", "event_id", "ts", "value", "variation"]].sort_values(
        "event_id", ignore_index=True
    )


def expected_ledger_keys(
    polls: pd.DataFrame, n_batches: int, lookback: int, horizon: int, retrain_every: int, min_train_rows: int
) -> pd.DataFrame:
    """The (user_id, made_at, target_ts, step) rows the forecast ledger must
    hold after ``n_batches``: once a model exists, each batch forecasts
    ``horizon`` steps from every key's latest tick that has a full lookback,
    with ``target_ts = made_at + step minutes``."""
    rows, model, since_train = [], False, 0
    for b in range(n_batches):
        hist = replay_ticks(polls[polls["batch"] <= b])
        since_train += int((polls.loc[polls["batch"] == b, "event_id"].isin(hist["event_id"])).sum())
        per_key = hist.groupby("user_id")
        has_window = per_key["ts"].transform("size") > lookback
        if since_train >= retrain_every and len(hist) >= min_train_rows and has_window.any():
            model, since_train = True, 0
        if model:
            latest = hist[has_window].groupby("user_id")["ts"].max()
            for user_id, made_at in latest.items():
                for j in range(1, horizon + 1):
                    rows.append((user_id, made_at, made_at + pd.Timedelta(minutes=j), j))
    return pd.DataFrame(rows, columns=["user_id", "made_at", "target_ts", "step"])


def rmse_by_merge_asof(ledger: pd.DataFrame, ticks: pd.DataFrame) -> pd.DataFrame:
    """Per-(user, step) RMSE of each forecast against the latest tick at or
    before its target time that arrived after the forecast was made."""
    left = ledger.sort_values("target_ts")
    right = ticks[["user_id", "ts", "value"]].rename(columns={"ts": "actual_ts"}).sort_values("actual_ts")
    m = pd.merge_asof(left, right, left_on="target_ts", right_on="actual_ts", by="user_id")
    m = m[m["value"].notna() & (m["actual_ts"] > m["made_at"])]
    m = m.assign(se=(m["forecasted_value"] - m["value"]) ** 2)
    out = m.groupby(["user_id", "step"]).agg(mse=("se", "mean"), n_scored=("se", "size")).reset_index()
    out["rmse"] = np.sqrt(out["mse"])
    return out[["user_id", "step", "rmse", "n_scored"]]


def check_tick_stores(
    polls: pd.DataFrame,
    n_batches: int,
    ticks: pd.DataFrame,
    ledger: pd.DataFrame,
    rmse: pd.DataFrame,
    pipeline_args: dict,
) -> list[str]:
    errors = []
    done = polls[polls["batch"] < n_batches]
    want = replay_ticks(done)
    got = ticks[want.columns].sort_values("event_id", ignore_index=True)
    if not got.astype(str).equals(want.astype(str)):  # float str() round-trips: exact
        errors.append(f"tick store differs from the replay ({len(got)} vs {len(want)} rows)")

    key = ["user_id", "made_at", "target_ts", "step"]
    want_ledger = expected_ledger_keys(done, n_batches, **pipeline_args).sort_values(key, ignore_index=True)
    got_ledger = ledger[key].sort_values(key, ignore_index=True)
    if not got_ledger.astype(str).equals(want_ledger.astype(str)):
        errors.append(f"forecast ledger keys differ ({len(got_ledger)} vs {len(want_ledger)} rows)")
    if not np.isfinite(ledger["forecasted_value"].to_numpy()).all():
        errors.append("forecast ledger holds a non-finite forecast")

    cols = ["user_id", "step", "n_scored", "rmse"]
    last = rmse.loc[rmse["batch_id"] == n_batches - 1, cols].sort_values(cols[:2], ignore_index=True)
    want_rmse = rmse_by_merge_asof(ledger, ticks)[cols].sort_values(cols[:2], ignore_index=True)
    if len(last) != len(want_rmse) or not (
        np.array_equal(last[cols[:3]].to_numpy("int64"), want_rmse[cols[:3]].to_numpy("int64"))
        and np.allclose(last["rmse"], want_rmse["rmse"], rtol=1e-9, atol=0.0)
    ):
        errors.append(f"last batch RMSE differs from merge_asof ({len(last)} vs {len(want_rmse)} rows)")
    return errors
