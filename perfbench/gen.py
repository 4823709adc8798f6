"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of a ``numpy.random.Generator``: the
same seed gives byte-identical pandas frames. Nothing is read from disk.

Events model a product's click stream: visits by Zipf-skewed users, each a
view that may convert to a click and then a purchase (the funnel the
``event_analytics`` example measures), plus rarer signup and error events.
``event_id`` is assigned in ``ts`` order, so it is strictly monotonic in
time, which is what the ``incremental_stream`` example's stream cursor
relies on.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EVENT_TYPES = ("view", "click", "purchase", "signup", "error")
EPOCH = pd.Timestamp("2024-01-01")
DAY_S = 86_400.0


def zipf_users(rng: np.random.Generator, n: int, n_users: int, s: float = 1.1) -> np.ndarray:
    """``n`` user ids drawn from a Zipf(s) law over ``n_users`` ranks. The
    rank-to-id map is a seeded permutation, so heavy users are not simply
    the smallest ids (which would line up with any range clustering)."""
    p = 1.0 / np.arange(1, n_users + 1, dtype=np.float64) ** s
    p /= p.sum()
    ranks = rng.choice(n_users, size=n, p=p)
    return rng.permutation(n_users).astype(np.int64)[ranks]


def events(
    rng: np.random.Generator,
    n_visits: int,
    *,
    start_id: int = 0,
    start_s: float = 0.0,
    span_s: float = 30 * DAY_S,
    n_users: int = 2_000,
) -> pd.DataFrame:
    """Events of ``n_visits`` visits spread over ``[start_s, start_s +
    span_s)`` seconds after 2024-01-01. Each visit is a view; 35 % go on to
    a click a few minutes later and 40 % of those to a purchase; 3 % of
    visits add a signup and 5 % an error. Columns: ``event_id`` (int64,
    monotonic from ``start_id`` in ``ts`` order), ``ts`` (datetime64[us]),
    ``user_id`` (int64), ``event_type`` (str), ``value`` (float64, cents
    precision; purchases carry the order amount)."""
    users = zipf_users(rng, n_visits, n_users)
    t_view = start_s + rng.uniform(0.0, span_s, n_visits)
    clicked = rng.random(n_visits) < 0.35
    t_click = t_view + rng.exponential(180.0, n_visits)
    bought = clicked & (rng.random(n_visits) < 0.40)
    t_buy = t_click + rng.exponential(600.0, n_visits)
    signup = rng.random(n_visits) < 0.03
    t_signup = t_view + rng.exponential(60.0, n_visits)
    error = rng.random(n_visits) < 0.05
    t_error = t_view + rng.uniform(0.0, 900.0, n_visits)

    parts = [
        (users, t_view, "view"),
        (users[clicked], t_click[clicked], "click"),
        (users[bought], t_buy[bought], "purchase"),
        (users[signup], t_signup[signup], "signup"),
        (users[error], t_error[error], "error"),
    ]
    user = np.concatenate([p[0] for p in parts])
    t = np.concatenate([p[1] for p in parts])
    kind = np.concatenate([np.full(len(p[0]), p[2], dtype=object) for p in parts])
    # keep every event inside the window so consecutive batches stay
    # ordered (a batch's events never overtake the next batch's)
    t = np.minimum(t, start_s + span_s - 1e-3)
    # microsecond timestamps: what parquet stores, so no rounding later
    t_us = np.round(t * 1e6).astype(np.int64)
    order = np.lexsort((user, t_us))
    user, t_us, kind = user[order], t_us[order], kind[order]

    value = np.round(rng.uniform(0.0, 5.0, len(user)), 2)
    is_buy = kind == "purchase"
    value[is_buy] = np.round(rng.lognormal(3.5, 0.8, int(is_buy.sum())), 2)
    return pd.DataFrame(
        {
            "event_id": np.arange(start_id, start_id + len(user), dtype=np.int64),
            "ts": (EPOCH + pd.to_timedelta(t_us, unit="us")).astype("datetime64[us]"),
            "user_id": user,
            "event_type": kind.astype(str),
            "value": value,
        }
    )


def arrow_bytes(df: pd.DataFrame) -> int:
    """Size of ``df`` as an Arrow table: the input-size base of
    ``bytes_stored_per_input_byte``."""
    import pyarrow as pa

    return int(pa.Table.from_pandas(df, preserve_index=False).nbytes)
