"""Seeded input generator for the benchmark workloads.

Every table is written with pyarrow under fixed file names, so one seed always
yields byte-identical parquet; different seeds draw from the same
distributions and yield the same row counts.

  cascade  N days of reference-shaped player_value_log / player_profit_log,
           partitioned by trade_date, plus the player and game_sites dims.
  stream   one parquet file of value-log rows per simulated 5-minute slice,
           with a fixed share of out-of-order rows and of rows older than
           the streaming tier's 10-minute watermark.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
TS = pa.timestamp("us", tz="UTC")
N_PLAYERS = 2000
ZIPF_A = 1.3           # player-key skew
FAIL_SHARE = 0.05      # trade_status = FAIL
XFER_SHARE = 0.10      # trade_type = XFER (neither IN nor OUT)
ROBOT_SHARE = 0.10     # is_robot = 1 on the profit log
OUT_OF_ORDER_SHARE = 0.10   # stream rows stamped 1-9 min before their slice
BEYOND_WM_SHARE = 0.02      # stream rows stamped 20-40 min before their slice
COUNTRIES = np.array(["THB", "VND2", "INR", "PHP"])
SITES = np.array(["S0", "S1", "S2", "S3", "S4"])
PLATFORMS = np.array(["P0", "P1", "P2"])


def _write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")


def _players(rng, n):
    """Zipf-skewed player ids in [0, N_PLAYERS)."""
    return (rng.zipf(ZIPF_A, n) - 1) % N_PLAYERS


def _player_cols(pid):
    return {
        "platform": PLATFORMS[pid % len(PLATFORMS)],
        "site_code": SITES[pid % len(SITES)],
        "player_name": np.char.add("u", pid.astype(str)),
        "country": COUNTRIES[pid % len(COUNTRIES)],
    }


def _money(rng, n, scale):
    return np.round(rng.lognormal(np.log(scale), 1.0, n), 2)


def _value_log(rng, times_us):
    n = len(times_us)
    pid = _players(rng, n)
    u = rng.random(n)
    trade_type = np.where(u < XFER_SHARE, "XFER",
                          np.where(u < XFER_SHARE + (1 - XFER_SHARE) / 2, "IN", "OUT"))
    value = _money(rng, n, 200.0)
    before = np.round(value + _money(rng, n, 1000.0), 2)
    after = np.round(before - value * rng.uniform(0.9, 1.0, n), 2)
    status = np.where(rng.random(n) < FAIL_SHARE, "FAIL", "SUCCESS")
    days = (times_us // 86_400_000_000).astype("int64")
    trade_date = np.array([int((EPOCH + dt.timedelta(days=int(d))).strftime("%Y%m%d"))
                           for d in days], dtype="int32") if n else np.zeros(0, "int32")
    cols = _player_cols(pid)
    return pa.table({
        **{k: pa.array(v) for k, v in cols.items()},
        "trade_type": pa.array(trade_type),
        "value": pa.array(value), "before_value": pa.array(before),
        "after_value": pa.array(after),
        "trade_date": pa.array(trade_date, pa.int32()),
        "trade_status": pa.array(status),
        "trade_time": pa.array(_epoch_us(times_us), TS),
    })


def _epoch_us(offsets_us):
    base = int(EPOCH.timestamp()) * 1_000_000
    return (offsets_us + base).astype("int64")


def _profit_log(rng, times_us):
    n = len(times_us)
    pid = _players(rng, n)
    bet = _money(rng, n, 50.0)
    win = np.round(bet * rng.uniform(0.0, 1.9, n), 2)
    fee = np.round(bet * 0.02, 2)
    cols = _player_cols(pid)
    return pa.table({
        **{k: pa.array(v) for k, v in cols.items()},
        "game_code": pa.array(np.char.add("g", (rng.integers(0, 8, n)).astype(str))),
        "bet": pa.array(bet), "win": pa.array(win), "fee": pa.array(fee),
        "profit": pa.array(np.round(win - bet, 2)),
        "refund": pa.array(np.where(rng.random(n) < 0.01, bet, 0.0)),
        "normal_value": pa.array(bet), "bonus_value": pa.array(np.round(bet * 0.1, 2)),
        "free_value": pa.array(np.round(bet - 60.0, 2)),
        "jp_value": pa.array(np.round(win - 90.0, 2)),
        "valid_value": pa.array(bet), "cancel_value": pa.array(np.zeros(n)),
        "round_time": pa.array(_epoch_us(times_us), TS),
        "is_robot": pa.array((rng.random(n) < ROBOT_SHARE).astype("int32")),
    })


def gen_cascade(out, seed, days, rows_per_day):
    rng = np.random.default_rng([seed, 1])
    day_us = 86_400_000_000
    for d in range(days):
        date = (EPOCH + dt.timedelta(days=d)).strftime("%Y%m%d")
        t = np.sort(rng.integers(d * day_us, (d + 1) * day_us, rows_per_day))
        _write(_value_log(rng, t),
               f"{out}/value_log/trade_date={date}/part-00000.parquet")
        t = np.sort(rng.integers(d * day_us, (d + 1) * day_us, rows_per_day))
        # the profit log is partitioned by its round date under the same key
        _write(_profit_log(rng, t),
               f"{out}/profit_log/trade_date={date}/part-00000.parquet")
    pid = np.arange(N_PLAYERS)
    cols = _player_cols(pid)
    reg = rng.integers(-30 * day_us, days * day_us, N_PLAYERS)
    _write(pa.table({
        "player_name": pa.array(cols["player_name"]),
        "platform": pa.array(cols["platform"]),
        "site_code": pa.array(cols["site_code"]),
        "reg_time": pa.array(_epoch_us(reg), TS),
        "type": pa.array(np.where(rng.random(N_PLAYERS) < ROBOT_SHARE, "ROBOT", "NORMAL")),
        "status": pa.array(np.full(N_PLAYERS, "ACTIVATE")),
    }), f"{out}/player/part-00000.parquet")
    # S4 is deliberately absent: a site with no revenue-share row
    sites = [(p, s, round(0.1 + 0.05 * i, 2)) for p in PLATFORMS
             for i, s in enumerate(SITES[:-1])]
    _write(pa.table({
        "platform": pa.array([s[0] for s in sites]),
        "code": pa.array([s[1] for s in sites]),
        "ratio": pa.array([s[2] for s in sites]),
    }), f"{out}/game_sites/part-00000.parquet")


def gen_stream(out, seed, files, rows_per_file):
    """Slice i covers [i*5min, (i+1)*5min) after the epoch. Files go to
    `out/staged`; the workload lands them into its source dir by rename."""
    rng = np.random.default_rng([seed, 2])
    slice_us = 300_000_000
    for i in range(files):
        t = rng.integers(i * slice_us, (i + 1) * slice_us, rows_per_file)
        u = rng.random(rows_per_file)
        ooo = u < OUT_OF_ORDER_SHARE
        late = (u >= OUT_OF_ORDER_SHARE) & (u < OUT_OF_ORDER_SHARE + BEYOND_WM_SHARE)
        t = np.where(ooo, i * slice_us - rng.integers(60_000_000, 540_000_000, rows_per_file), t)
        t = np.where(late, i * slice_us - rng.integers(1_200_000_000, 2_400_000_000,
                                                          rows_per_file), t)
        _write(_value_log(rng, t), f"{out}/staged/slice-{i:05d}.parquet")

