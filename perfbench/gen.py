"""Seeded kiln-table generator for the benchmark (FIXTURES.md schemas).

Every table is drawn from one ``numpy`` generator seeded by the caller, so
the same ``(seed, n_days)`` gives byte-identical frames. Injected, as
FIXTURES.md asks: exact duplicate zone timestamps, a maintenance gap (qrt
rows absent, zone/mis values at maintenance levels), a NaN run longer
than the 24 h rolling window, and accretion events at the reference rate
of 4 per simulated year, each cooling its zone by up to 200 °C between
``START_DATE`` and ``CRITICAL_DATE``.

Also builds the ``live_refresh`` inputs: day-partitioned rollup history
as algebraic partials, and one simulated day of long-form 2-min zone
readings with seeded late rows for the previous day and exact duplicates.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

START = pd.Timestamp("2024-06-01")
N_ZONES = 11
POSITIONS = [f"P{i:02d}" for i in range(1, 23)]
FANS = [f"SAF{i:02d}" for i in range(2, 10)] + ["CB"]
ZONES_QRT = list(range(2, 11))
EVENTS_PER_YEAR = 4
EVENT_DAYS = (15, 30, 45, 60)
ZONE_STEP = pd.Timedelta(minutes=2)
# the zone the NaN run lands in; the correctness check recomputes two others
NAN_ZONE = 3
DUP_SHARE = 0.002


def _zone_values(rng: np.random.Generator, times: pd.DatetimeIndex,
                 base: np.ndarray) -> np.ndarray:
    """(len(times), N_ZONES) readings: per-zone band + slow wave + noise."""
    t = np.arange(len(times))[:, None]
    z = np.arange(N_ZONES)[None, :]
    return (base[None, :] + 10 * np.sin(t / 50.0 + z)
            + rng.normal(0, 3, (len(times), N_ZONES)))


def _events(rng: np.random.Generator, n_days: int) -> pd.DataFrame:
    n = max(1, round(EVENTS_PER_YEAR * n_days / 365))
    # one event per equal slice of the period, so windows rarely overlap
    slice_days = n_days / n
    rows = []
    for i in range(n):
        start = START + pd.Timedelta(
            hours=int(24 * (i * slice_days + rng.uniform(0.1, 0.5) * slice_days)))
        dur = int(rng.choice(EVENT_DAYS))
        crit = start + pd.Timedelta(days=dur)
        rows.append({"EVENT_ID": i + 1, "START_DATE": start,
                     "CRITICAL_DATE": crit,
                     "CLEARED_DATE": crit + pd.Timedelta(days=5),
                     "ZONE": int(rng.integers(3, 9)), "DURATION_DAYS": dur})
    df = pd.DataFrame(rows)
    df["EVENT_ID"] = df["EVENT_ID"].astype("int32")
    df["ZONE"] = df["ZONE"].astype("int32")
    df["DURATION_DAYS"] = df["DURATION_DAYS"].astype("int32")
    return df


def kiln_tables(seed: int, n_days: int) -> dict[str, pd.DataFrame]:
    """The seven FIXTURES.md tables over ``n_days`` from 2024-06-01."""
    rng = np.random.default_rng(seed)
    end = START + pd.Timedelta(days=n_days)
    days = pd.date_range(START, periods=n_days, freq="D")
    maint_start = START + pd.Timedelta(days=int(rng.integers(2, max(3, n_days // 3))))
    maint_end = maint_start + pd.Timedelta(days=1)
    events = _events(rng, n_days)

    # -- mis_report: one row per day
    eff = rng.uniform(0.5, 1.0, n_days)
    prod = 2000.0 * eff

    def around(c, w):
        return c + rng.uniform(-w, w, n_days)

    mis = pd.DataFrame({
        "DATE": days,
        "CAMP_DAY": np.arange(1, n_days + 1, dtype=np.int32),
        "PRODUCTION ACTUAL": prod,
        "GRADE_A": prod * rng.uniform(0.6, 0.8, n_days),
        "GRADE_B": prod * rng.uniform(0.1, 0.2, n_days),
        "DRI_FINES": prod * rng.uniform(0.02, 0.08, n_days),
        "DRI_DUST": prod * rng.uniform(0.01, 0.04, n_days),
        "PRODUCTION PLAN": np.full(n_days, 2000.0),
        "PROD_LOSS": rng.uniform(0, 100, n_days),
        "PELLETS_CONSUMPTION": around(500, 50),
        "IRON ORE CONSUMPTION": around(1000, 100),
        "TOTAL_IRON_ORE_PELLETS": around(1500, 150),
        "HG_COAL_CONSUMPTION": around(800, 80),
        "SA_COAL_CONSUMPTION": around(400, 40),
        "ESSAR_FINES": around(50, 5),
        "NCL_FINES": around(70, 7),
        "WASH_COAL": around(250, 25),
        "COAL_LOSSES_BYPRODUCTS": rng.uniform(10, 50, n_days),
        "GROSS COAL CONSUMPTION": around(1500, 100),
        "COAL_PER_TDRI": rng.uniform(0.7, 0.9, n_days),
        "DOLO_CONSUMPTION": around(30, 3),
        "CHAR_GENERATION": around(150, 15),
        "PLUS_6_CHAR": around(60, 6),
        "MINUS_6_CHAR": around(50, 5),
        "MAG_CHAR": around(20, 2),
        "MIX_CHAR": around(20, 2),
        "POWER": rng.uniform(800, 950, n_days),
        "KILN_AVAILABILITY": rng.uniform(80, 100, n_days),
        "TOTAL_STEAM_FLOW": rng.uniform(25, 30, n_days),
        "AVERAGE_STEAM": rng.uniform(25, 30, n_days),
        "FEED_LOSS_TOTAL": rng.integers(0, 180, n_days).astype(float),
        "SLINGER_LOSS": rng.integers(0, 120, n_days).astype(float),
        "FEED_LOSS_REASON": rng.choice(["NONE", "JAM", "BREAKDOWN"], n_days),
        "SLINGER_LOSS_REASON": rng.choice(["NONE", "TRIP"], n_days),
        "REMARKS": rng.choice(["OK", "CHECK", ""], n_days),
    })
    m = (mis["DATE"] >= maint_start) & (mis["DATE"] < maint_end)
    mis.loc[m, ["PRODUCTION ACTUAL", "PRODUCTION PLAN"]] = 0.0
    mis.loc[m, "POWER"] = 150.0
    mis.loc[m, ["FEED_LOSS_TOTAL", "SLINGER_LOSS"]] = 1440.0

    # -- shell_temperature: day × position, long, plus duplicate rows
    base = rng.uniform(100, 400, (n_days, len(POSITIONS)))
    angles = base[..., None] + rng.normal(0, 10, (n_days, len(POSITIONS), 4))
    shell = pd.DataFrame({
        "DATE": np.repeat(days, len(POSITIONS)),
        "POSITION": np.tile(POSITIONS, n_days),
        "SHELL_TEMP_0": angles[..., 0].ravel(),
        "SHELL_TEMP_90": angles[..., 1].ravel(),
        "SHELL_TEMP_180": angles[..., 2].ravel(),
        "SHELL_TEMP_270": angles[..., 3].ravel(),
        "SHELL_TEMP_AVG": angles.mean(axis=2).ravel(),
    })
    shell = pd.concat([shell, shell.iloc[:5]], ignore_index=True)

    # -- air_calibration: day × fan, long
    n_air = n_days * len(FANS)
    air = pd.DataFrame({
        "DATE": np.repeat(days, len(FANS)),
        "FAN": np.tile(FANS, n_days),
        "DAMPER": rng.uniform(70, 90, n_air),
        "VELOCITY": rng.uniform(18, 25, n_air),
        "AIR_FLOW": 55000 + rng.uniform(-5000, 5000, n_air),
    })

    # -- qrt_temperature: every 2 h × zones 2..10, absent in maintenance
    qt = pd.date_range(START, end, freq="2h", inclusive="left")
    qt = qt[(qt < maint_start) | (qt >= maint_end)]
    qrt = pd.DataFrame({
        "DATETIME": np.repeat(qt, len(ZONES_QRT)),
        "ZONE": np.tile(np.array(ZONES_QRT, dtype=np.int32), len(qt)),
        "TEMPERATURE": rng.uniform(650, 1200, len(qt) * len(ZONES_QRT)),
    })

    # -- zone_temperature: 2-min wide feed
    times = pd.date_range(START, end, freq=ZONE_STEP, inclusive="left")
    vals = _zone_values(rng, times, rng.uniform(750, 925, N_ZONES))
    tv = times.values
    for ev in events.itertuples():
        s, c = np.datetime64(ev.START_DATE), np.datetime64(ev.CRITICAL_DATE)
        frac = np.clip((tv - s) / (c - s), 0, 1)
        live = (tv >= s) & (tv < c)
        vals[live, ev.ZONE] -= 200.0 * frac[live]
    mm = (tv >= np.datetime64(maint_start)) & (tv < np.datetime64(maint_end))
    vals[mm] = rng.uniform(100, 200, (int(mm.sum()), N_ZONES))
    nan_start = START + pd.Timedelta(hours=int(rng.integers(24, max(25, 24 * n_days - 60))))
    nan_run = (tv >= np.datetime64(nan_start)) & (
        tv < np.datetime64(nan_start + pd.Timedelta(hours=30)))
    vals[nan_run, NAN_ZONE] = np.nan
    zone = pd.DataFrame(vals, columns=[f"ZONE_{i}" for i in range(N_ZONES)])
    zone.insert(0, "DATETIME", times)
    dups = rng.choice(len(zone), max(1, int(DUP_SHARE * len(zone))), replace=False)
    zone = (pd.concat([zone, zone.iloc[np.sort(dups)]])
            .sort_values("DATETIME", kind="stable").reset_index(drop=True))

    # -- accretion_truth: daily ground truth from the event windows
    has = np.zeros(n_days, dtype=bool)
    sev = np.zeros(n_days)
    zones_aff = [""] * n_days
    for ev in events.itertuples():
        on = (days >= ev.START_DATE.normalize()) & (days < ev.CLEARED_DATE.normalize())
        has |= on
        s = np.clip((days - ev.START_DATE) / (ev.CRITICAL_DATE - ev.START_DATE), 0, 1)
        sev = np.where(on, np.maximum(sev, s), sev)
        for i in np.flatnonzero(on):
            zones_aff[i] = ",".join(filter(None, [zones_aff[i], str(ev.ZONE)]))
    truth = pd.DataFrame({
        "DATE": days, "HAS_ACCRETION": has,
        "ACTIVE_ACCRETION_COUNT": np.array(
            [len(z.split(",")) if z else 0 for z in zones_aff], dtype=np.int32),
        "ZONES_AFFECTED": zones_aff, "MAX_SEVERITY": sev,
    })
    return {"mis_report": mis, "shell_temperature": shell,
            "air_calibration": air, "qrt_temperature": qrt,
            "zone_temperature": zone, "accretion_events": events,
            "accretion_truth": truth}


def row_counts(tables: dict[str, pd.DataFrame]) -> dict[str, int]:
    return {name: len(df) for name, df in tables.items()}


# -- live_refresh inputs -----------------------------------------------------

SERIES = [f"ZONE_{i}" for i in range(N_ZONES)]
READINGS_PER_DAY = 24 * 30  # 2-min grain


def rollup_history(seed: int, n_days: int) -> pd.DataFrame:
    """Stored daily partials ``(day, series, n, sum_v, min_v, max_v)`` for
    the ``n_days`` before the first delivered day — what an earlier
    ``incremental_refresh`` would have written."""
    rng = np.random.default_rng([seed, 1])
    days = pd.date_range(START, periods=n_days, freq="D").date
    k = n_days * N_ZONES
    n = np.full(k, READINGS_PER_DAY, dtype=np.int64)
    mean = rng.uniform(750, 925, k)
    spread = rng.uniform(5, 40, k)
    return pd.DataFrame({
        "day": np.repeat(days, N_ZONES), "series": np.tile(SERIES, n_days),
        "n": n, "sum_v": mean * n, "min_v": mean - spread, "max_v": mean + spread,
    })


def day_delivery(seed: int, day_index: int, late_share: float = 0.03,
                 dup_share: float = 0.01) -> pd.DataFrame:
    """One simulated day of long-form zone readings ``(ts, series, value)``
    for day ``day_index`` after ``START``, plus late rows of the previous
    day and exact duplicates. Same (seed, day_index) → same rows."""
    rng = np.random.default_rng([seed, 2, day_index])
    day = START + pd.Timedelta(days=day_index)
    times = pd.date_range(day, periods=READINGS_PER_DAY, freq=ZONE_STEP)
    base = rng.uniform(760, 880, N_ZONES)
    vals = _zone_values(rng, times, base)
    # a seeded cooling dip in a few zones, so some hours fall below the
    # alert threshold and others do not
    dip = rng.choice(N_ZONES, 4, replace=False)
    h0 = int(rng.integers(0, 20))
    hours = times.hour.values
    vals[np.ix_((hours >= h0) & (hours < h0 + 4), dip)] -= 150.0
    rows = pd.DataFrame({
        "ts": np.repeat(times, N_ZONES),
        "series": np.tile(SERIES, len(times)),
        "value": vals.ravel(),
    })
    # late readings sit off the 2-min grid, one per (time, series) at most,
    # so no two readings of a series with different values share a time
    n_late = int(late_share * len(rows))
    slot = rng.choice(READINGS_PER_DAY * N_ZONES, n_late, replace=False)
    late = pd.DataFrame({
        "ts": (day - pd.Timedelta(days=1) + pd.Timedelta(minutes=1)
               + ZONE_STEP * (slot // N_ZONES)),
        "series": np.array(SERIES)[slot % N_ZONES],
        "value": rng.uniform(700, 900, n_late)})
    dups = rows.iloc[np.sort(rng.choice(len(rows), int(dup_share * len(rows)),
                                        replace=False))]
    return pd.concat([rows, late, dups], ignore_index=True)
