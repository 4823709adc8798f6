"""Independent references for the output checks: DuckDB SQL and pandas over
the generated inputs, never the engine's own stores."""

from __future__ import annotations

import numbers
from datetime import datetime
from typing import Any

import duckdb
import numpy as np
import pandas as pd

_ROLLUP_SQL = """
with ordered as (
  select user_id, ts, event_id,
         lag(ts) over (partition by user_id order by ts, event_id) as prev_ts
  from events
), marked as (
  select user_id, ts,
         sum(case when prev_ts is null or ts - prev_ts > interval 30 minute
                  then 1 else 0 end)
           over (partition by user_id order by ts, event_id
                 rows between unbounded preceding and current row) as session_seq
  from ordered
)
select user_id,
       count(distinct session_seq) as n_sessions,
       count(*) as n_events,
       max(ts) as last_seen
from marked
group by user_id
"""


class Reference:
    """A DuckDB connection holding the rows a reader should see now."""

    def __init__(self, rows: pd.DataFrame):
        self.con = duckdb.connect()
        self.con.execute("set threads to 1")
        self.con.execute("set TimeZone = 'UTC'")
        self.set_rows(rows)

    def set_rows(self, rows: pd.DataFrame) -> None:
        self.con.register("events", rows)

    def sql(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()


def user_rollup(events: pd.DataFrame) -> pd.DataFrame:
    """``user_rollup`` of ``examples/event_analytics``: 30-minute gap
    sessions per user, rolled up."""
    return Reference(events).sql(_ROLLUP_SQL)


def type_totals(events: pd.DataFrame) -> pd.DataFrame:
    """Per-``event_type`` record count and value sum."""
    g = events.groupby("event_type")["value"]
    return pd.DataFrame({"n": g.size(), "total": g.sum()}).reset_index()


def add_totals(a: pd.DataFrame, b: pd.DataFrame) -> pd.DataFrame:
    out = pd.concat([a, b]).groupby("event_type")[["n", "total"]].sum()
    return out.reset_index()


def _norm(v: Any) -> Any:
    if v is None or (not isinstance(v, str) and pd.isna(v)):
        return None
    if isinstance(v, (datetime, np.datetime64)):
        return pd.Timestamp(v).value // 1_000
    if isinstance(v, numbers.Number):
        # sums of cent values: float error is far below this rounding
        return round(float(v), 6)
    return str(v)


def _rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    rows = [tuple(_norm(v) for v in r) for r in df[cols].itertuples(index=False)]
    return sorted(rows, key=lambda r: tuple((x is None, x if x is not None else 0) for x in r))


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> bool:
    """Equal as multisets of rows over ``want``'s columns, floats to six
    decimals, timestamps to the microsecond, NULL/NaN/NaT alike."""
    cols = list(want.columns)
    if set(cols) - set(got.columns) or len(got) != len(want):
        return False
    return _rows(got, cols) == _rows(want, cols)
