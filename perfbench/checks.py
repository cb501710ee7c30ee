"""Correctness oracles, run outside the timed regions.

Each oracle recomputes an engine output independently — DuckDB over the
same parquet files, numpy over the same arrays, or a pandas replay —
and the workload records the comparison in ``Checks``.
"""

from __future__ import annotations

import datetime as dt
import math
import pathlib

import duckdb
import numpy as np
import pandas as pd

from data import parquet_glob


class Checks:
    """Counts checks attempted and failed; keeps a note per failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def expect(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(f"{name}: {detail}" if detail else name)
        return ok


TRUNC = {"1m": "minute", "1h": "hour", "1d": "day"}
TIER_COLS = ("key, bucket_ts, n_obs, v_sum, v_sumsq, v_min, v_max, "
             "v_first, v_last, first_ts, last_ts")


def tier_mismatches(raw_dirs: list[pathlib.Path], tiers: pathlib.Path, tier: str) -> int:
    """Rows in the stored tier and in a DuckDB recomputation from raw
    that the other side lacks (0 = equal as multisets). Values are
    integer-valued doubles, so sums are exact in any order."""
    files = ", ".join(f"'{parquet_glob(d)}'" for d in raw_dirs)
    want = f"""
        select conv_id as key, date_trunc('{TRUNC[tier]}', ts) as bucket_ts,
               count(value) as n_obs, sum(value) as v_sum,
               sum(value * value) as v_sumsq, min(value) as v_min,
               max(value) as v_max, arg_min(value, ts) as v_first,
               arg_max(value, ts) as v_last, min(ts) as first_ts,
               max(ts) as last_ts
        from read_parquet([{files}]) group by all"""
    got = (f"select {TIER_COLS} from read_parquet('{tiers}/tier={tier}/*/*.parquet', "
           f"hive_partitioning = true)")
    (n,) = duckdb.sql(
        f"select (select count(*) from (({want}) except all ({got}))) + "
        f"(select count(*) from (({got}) except all ({want})))").fetchone()
    return int(n)


def blocks_roundtrip_ok(decoded: pd.DataFrame, raw_dir: pathlib.Path) -> bool:
    """Decoded Gorilla rows equal the raw (key, ts, value) bit for bit."""
    want = duckdb.sql(
        f"select conv_id as key, epoch_us(ts) as us, value "
        f"from read_parquet('{parquet_glob(raw_dir)}') order by key, us").df()
    got = decoded.assign(us=decoded["ts"].to_numpy().astype("datetime64[us]").astype(np.int64))
    got = got.sort_values(["key", "us"], kind="stable").reset_index(drop=True)
    return (
        len(got) == len(want)
        and np.array_equal(got["key"].to_numpy(), want["key"].to_numpy())
        and np.array_equal(got["us"].to_numpy(), want["us"].to_numpy())
        and np.array_equal(got["value"].to_numpy(np.float64).view(np.int64),
                           want["value"].to_numpy(np.float64).view(np.int64))
    )


def raw_day(raw_dir: pathlib.Path, day: dt.date) -> list[tuple]:
    return duckdb.sql(
        f"select conv_id, ts, value from read_parquet('{parquet_glob(raw_dir)}') "
        f"where ts::date = '{day.isoformat()}' order by 1, 2").fetchall()


def gapfill_oracle(tiers: pathlib.Path, tier: str, start: dt.datetime,
                   end: dt.datetime, keys: list[str], mode: str) -> list[tuple]:
    """DuckDB over the same tier slice: a dense spine per key between
    its first and last bucket, left-joined to the slice, then LOCF or
    linear interpolation (edges fall back to the nearest observation).
    Rows are (key, bucket_ts, value, filled), sorted."""
    secs = {"1m": 60, "1h": 3600, "1d": 86400}[tier]
    key_list = ", ".join(f"'{k}'" for k in keys)
    fill = "last_value(v_last ignore nulls) over wb"
    if mode == "interp":
        fill = """case when v_last is not null then v_last
            when last_value(v_last ignore nulls) over wb is null
                then first_value(v_last ignore nulls) over wf
            when first_value(v_last ignore nulls) over wf is null
                then last_value(v_last ignore nulls) over wb
            else last_value(v_last ignore nulls) over wb
                + (first_value(v_last ignore nulls) over wf
                   - last_value(v_last ignore nulls) over wb)
                * (t - last_value(obs_t ignore nulls) over wb)
                / (first_value(obs_t ignore nulls) over wf
                   - last_value(obs_t ignore nulls) over wb) end"""
    sql = f"""
        with s as (
            select key, bucket_ts, v_last
            from read_parquet('{tiers}/tier={tier}/*/*.parquet', hive_partitioning = true)
            where bucket_ts >= '{start}' and bucket_ts < '{end}'
              and key in ({key_list})),
        b as (select key, min(bucket_ts) as lo, max(bucket_ts) as hi from s group by key),
        spine as (select key, unnest(generate_series(lo, hi, interval '{secs} seconds'))
                  as bucket_ts from b),
        j as (select spine.key, spine.bucket_ts, s.v_last,
                     epoch_us(spine.bucket_ts) / 1e6 as t,
                     case when s.v_last is not null
                          then epoch_us(spine.bucket_ts) / 1e6 end as obs_t
              from spine left join s using (key, bucket_ts))
        select key, bucket_ts, {fill} as v, v_last is null as filled
        from j
        window wb as (partition by key order by bucket_ts
                      rows between unbounded preceding and current row),
               wf as (partition by key order by bucket_ts
                      rows between current row and unbounded following)
        order by key, bucket_ts"""
    return duckdb.sql(sql).fetchall()


def rows_equal(got: list[tuple], want: list[tuple], rel: float = 0.0) -> bool:
    """Sorted row lists equal; floats within ``rel`` relative error
    (0 = exact), NaN/None equal to themselves."""
    if len(got) != len(want):
        return False
    for g, w in zip(sorted(got, key=_sort_key), sorted(want, key=_sort_key)):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(a, float) or isinstance(b, float):
                if a is None or b is None:
                    if a is not b:
                        return False
                elif math.isnan(a) or math.isnan(b):
                    if not (math.isnan(a) and math.isnan(b)):
                        return False
                elif a != b and abs(a - b) > rel * max(abs(a), abs(b)):
                    return False
            elif a != b:
                return False
    return True


def _sort_key(row: tuple) -> tuple:
    return tuple((x is None, "" if x is None else x) for x in row[:2])


def book_replay(files: list[pathlib.Path], max_ticks: int, edg_ticks: int) -> list[tuple]:
    """Independent replay of the bounded per-key book: files in order,
    one micro-batch each; within a batch a key's ticks in (t, v) order;
    a buffer at max_ticks slides to its newest half before appending;
    reaching edg_ticks emits (key, t, n, mean, min, max) and crops the
    buffer to its newest half."""
    books: dict[str, tuple[list, list]] = {}
    fired = []
    half = max_ticks // 2
    for f in files:
        pdf = pd.read_parquet(f)
        for key, g in pdf.groupby("key", sort=True):
            g = g.sort_values(["t", "v"], kind="stable")
            t, v = books.get(key, ([], []))
            for tt, vv in zip(g["t"].to_numpy(), g["v"].to_numpy()):
                if len(t) >= max_ticks:
                    t, v = t[-half:], v[-half:]
                t.append(float(tt))
                v.append(float(vv))
                if len(t) == edg_ticks:
                    arr = np.asarray(v)
                    fired.append((key, float(tt), len(t), float(arr.mean()),
                                  float(arr.min()), float(arr.max())))
                    t, v = t[-half:], v[-half:]
            books[key] = (t, v)
    return fired
