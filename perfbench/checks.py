"""Output checks that run off the clock.

Each check compares the engine's output on the generated input with an
independent computation of the same result:

- a query's rows against its DuckDB oracle (``oracle_sql()``) on the
  same parquet files, with ``scripts/check_oracles.py``'s ``compare``;
- ``check_bocpd_rows``: ``bocpd_changepoints`` rows against the
  in-process kernel ``functions.bocpd.bocpd_series`` on sampled series;
- ``check_stream_state``: the final per-series state a streaming
  detector left in its state store against the batch recursion run
  over the same events.

A check returns a list of problems; an empty list means the output is
correct.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ATOL = 1.5e-6  # outputs are rounded to 6 decimals on both sides


def check_bocpd_rows(
    rows: pd.DataFrame, events: pd.DataFrame, sample: list[str]
) -> list[str]:
    """``rows`` (series_id, rn, cp_prob, cp_score) from Spark against
    ``bocpd_series`` on the z-normalised values of each sampled series,
    ordered as the engine orders them (timestamp, then event_id)."""
    from time_series_data_anomaly_detection_spark.functions.bocpd import bocpd_series

    problems = []
    for sid in sample:
        ev = events[events["event_type"] == sid].sort_values(["ts", "event_id"])
        y = ev["value"].to_numpy(float)
        sd = y.std() or 1.0
        cp, short = bocpd_series((y - y.mean()) / sd)
        got = rows[rows["series_id"] == sid].sort_values("rn")
        if len(got) != len(y):
            problems.append(f"{sid}: {len(got)} rows != {len(y)} points")
            continue
        for col, want in (("cp_prob", cp), ("cp_score", short)):
            diff = np.abs(got[col].to_numpy(float) - np.round(want, 6))
            if not (diff <= ATOL).all():
                problems.append(f"{sid}: {col} differs by up to {diff.max():.3g}")
    return problems


def bocpd_final_state(y: np.ndarray, hazard_lam: float = 100.0, max_run: int = 500) -> dict:
    from time_series_data_anomaly_detection_spark.functions.bocpd import (
        bocpd_run,
        initial_state,
    )

    _, _, st = bocpd_run(y, initial_state(), hazard_lam=hazard_lam, max_run=max_run)
    return st


def control_final_state(
    y: np.ndarray, mu: float, sd: float, lam: float = 0.25, k: float = 0.5
) -> tuple[float, float, float, float]:
    """The EWMA/CUSUM recursion of ``streaming_control_flags`` written
    out independently: ``(z, w, s_pos, s_neg)`` after ``y``."""
    z, w, sp, sn = mu, 1.0, 0.0, 0.0
    w2 = (1.0 - lam) ** 2
    for v in y:
        z = z + lam * (v - z)
        w = w * w2
        zs = (v - mu) / (sd + 1e-9)
        sp = max(0.0, sp + (zs - k))
        sn = max(0.0, sn + (-zs - k))
    return z, w, sp, sn


def check_stream_state(
    bocpd_state: pd.DataFrame,
    control_state: pd.DataFrame,
    events: pd.DataFrame,
    mu: float,
    sd: float,
    sample: list[str],
) -> list[str]:
    """Final streaming state per sampled series against the batch
    recursions over the same events in timestamp order.

    ``bocpd_state`` has columns ``series_id, r, mu, beta, run_len``;
    ``control_state`` has ``series_id, z, w, sp, sn``."""
    problems = []
    b = bocpd_state.set_index("series_id")
    c = control_state.set_index("series_id")
    for sid in sample:
        y = events[events["event_type"] == sid].sort_values("ts")["value"].to_numpy(float)
        if sid not in b.index or sid not in c.index:
            problems.append(f"{sid}: no streaming state")
            continue
        st = bocpd_final_state((y - mu) / sd)
        row = b.loc[sid]
        for key in ("r", "mu", "beta", "run_len"):
            got = np.asarray(row[key], float)
            want = np.asarray(st[key], float)
            if got.shape != want.shape or not np.allclose(got, want, rtol=1e-9, atol=1e-12):
                problems.append(f"{sid}: bocpd state {key} differs")
                break
        want_c = control_final_state(y, mu, sd)
        got_c = tuple(float(c.loc[sid, k]) for k in ("z", "w", "sp", "sn"))
        if not np.allclose(got_c, want_c, rtol=1e-9, atol=1e-12):
            problems.append(f"{sid}: control state {got_c} != {want_c}")
    return problems
