"""The output checks accept a correct output and reject corrupted ones.

Correct outputs are built here independently of the checks' own replay
SQL: per-round oracle results are merged in pandas, and the history is
deduplicated in pandas.
"""

import os

import duckdb
import pandas as pd
import pytest

from __spark_entry__ import oracle_sql
from flowbench import checks, gen

SHAPE = gen.TickShape(symbols=15, ticks_per_round=400)


def _oracle_df(sql: str, events: pd.DataFrame) -> pd.DataFrame:
    con = duckdb.connect()
    try:
        con.execute("SET TimeZone='UTC'")
        con.register("events", events)
        return con.execute(sql).df()
    finally:
        con.close()


def _write(df: pd.DataFrame, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    if "date" in df:  # keep DATE, which pandas widened to a timestamp
        df = df.assign(date=df["date"].dt.date)
    df.to_parquet(os.path.join(path, "part-0.parquet"), index=False)


@pytest.fixture(scope="module")
def ticks(tmp_path_factory):
    root = tmp_path_factory.mktemp("ticks")
    rounds = gen.write_tick_rounds(str(root / "rounds"), 3, 6, SHAPE)
    sql = oracle_sql()["realtime_metrics"]
    per_round = [_oracle_df(sql, pd.read_parquet(p)).assign(__round=r) for r, p in enumerate(rounds)]
    merged = (
        pd.concat(per_round)
        .sort_values("__round")
        .drop_duplicates(["symbol", "window_start"], keep="last")
        .drop(columns="__round")
        .reset_index(drop=True)
    )
    merged["last_updated"] = pd.Timestamp("2024-01-01")
    return rounds, sql, merged, per_round


def test_correct_target_passes(ticks, tmp_path):
    rounds, sql, merged, per_round = ticks
    _write(merged, str(tmp_path))
    errs, produced = checks.check_tick_target(str(tmp_path), rounds, sql)
    assert errs == []
    assert produced == [len(df) for df in per_round]
    # late ticks make later rounds rewrite keys earlier rounds wrote
    assert sum(produced) > len(merged)


@pytest.mark.parametrize("corrupt", ["value", "missing_row", "stale_round", "schema", "no_stamp"])
def test_corrupted_target_is_rejected(ticks, tmp_path, corrupt):
    rounds, sql, merged, per_round = ticks
    bad = merged.copy()
    if corrupt == "value":
        bad.loc[3, "moving_avg_price_15m"] += 0.0001
    elif corrupt == "missing_row":
        bad = bad.drop(index=5)
    elif corrupt == "stale_round":
        # a key rewritten by a late tick, holding its earlier round's row
        first = per_round[0].drop(columns="__round")
        later = pd.concat(per_round[1:])
        key = first.merge(later[["symbol", "window_start"]], on=["symbol", "window_start"]).iloc[0]
        i = bad.index[(bad.symbol == key.symbol) & (bad.window_start == key.window_start)][0]
        for c in first.columns:
            bad.at[i, c] = key[c]
    elif corrupt == "schema":
        bad["total_volume_1h"] = bad["total_volume_1h"].astype(float)
    elif corrupt == "no_stamp":
        bad.loc[0, "last_updated"] = pd.NaT
    _write(bad, str(tmp_path))
    errs, _ = checks.check_tick_target(str(tmp_path), rounds, sql)
    assert errs


def test_warehouse_check_needs_keep_last_dedup(tmp_path):
    shape = gen.HistoryShape(symbols=8, days=3, ticks_per_symbol_day=30)
    history = str(tmp_path / "history")
    gen.write_history(history, 5, shape)
    raw = pd.read_parquet(history)[["event_id", "ts", "event_type", "value", "volume"]]
    deduped = raw.sort_values("event_id").drop_duplicates(["event_type", "ts"], keep="last")
    sql = oracle_sql()["daily_metrics"]
    good, stale = _oracle_df(sql, deduped), _oracle_df(sql, raw)
    _write(good, str(tmp_path / "good"))
    _write(stale, str(tmp_path / "stale"))
    assert checks.check_warehouse(history, str(tmp_path / "good"), sql) == []
    assert checks.check_warehouse(history, str(tmp_path / "stale"), sql)
    good.loc[0, "daily_close"] += 0.01
    _write(good, str(tmp_path / "corrupt"))
    assert checks.check_warehouse(history, str(tmp_path / "corrupt"), sql)
