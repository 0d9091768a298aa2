"""pandas recomputations the benchmark checks the engine's outputs against.

Each ``check_*`` returns a list of failure messages (empty when the output
is right). They run outside the timed region.
"""

from __future__ import annotations

import datetime
import decimal
import re

import numpy as np
import pandas as pd

from perfbench.gen import START

RTOL = 1e-9


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    """Comparable form: decimals as floats, dates and timestamps as naive
    ``datetime64[ns]``, columns by name, rows sorted by the non-float
    columns."""
    df = df.copy()
    for c in df.columns:
        s = df[c]
        first = s.dropna().iloc[0] if s.notna().any() else None
        if isinstance(first, decimal.Decimal):
            s = s.astype(float)
        elif isinstance(first, datetime.date):
            s = pd.to_datetime(s)
        if isinstance(s.dtype, pd.DatetimeTZDtype):
            s = s.dt.tz_convert("UTC").dt.tz_localize(None)
        if s.dtype.kind == "M":
            s = s.astype("datetime64[ns]")
        df[c] = s
    df = df[sorted(df.columns)]
    keys = [c for c in df.columns if df[c].dtype.kind != "f"]
    return df.sort_values(keys or list(df.columns)).reset_index(drop=True)


def frames_match(name: str, got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != {sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, expected {len(want)}"]
    g, w = _norm(got), _norm(want)
    bad = []
    for c in g.columns:
        a, b = g[c], w[c]
        if a.dtype.kind == "f" or b.dtype.kind == "f":
            ok = np.allclose(a.astype(float), b.astype(float), rtol=RTOL,
                             atol=RTOL, equal_nan=True)
        else:
            ok = (a.astype(str).values == b.astype(str).values).all()
        if not ok:
            bad.append(f"{name}: column {c} differs")
    return bad


# -- kiln_batch --------------------------------------------------------------

def spine_hours(tables: dict[str, pd.DataFrame]) -> pd.DatetimeIndex:
    """The pipeline's global hourly spine: floor-hour of the sensor feeds'
    min..max timestamp."""
    ts = pd.concat([tables["zone_temperature"]["DATETIME"],
                    tables["qrt_temperature"]["DATETIME"],
                    tables["shell_temperature"]["DATE"],
                    tables["air_calibration"]["DATE"]])
    return pd.date_range(ts.min().floor("h"), ts.max().floor("h"), freq="h")


# Columns whose values the kiln check recomputes: hourly means of two zone
# feed series and two interpolated qrt series, and the 24 h rolling mean
# of the qrt pair (the 500-column cap keeps no zone-feed rolling column).
KILN_VALUE_COLS = ("zone_ZONE_1", "zone_ZONE_7", "qrt_ZONE_2", "qrt_ZONE_3",
                   "qrt_ZONE_2_roll_24", "qrt_ZONE_3_roll_24")
RAW_ZONES = [f"zone_ZONE_{i}" for i in range(11)]


def kiln_fingerprint_exprs() -> list:
    """Aggregates observed on the pipeline output as it streams into the
    ``noop`` sink: row count, raw-zone nulls, the ``accretion_forming``
    hours, and count / sum / sum of squares / hour-weighted sum of each
    ``KILN_VALUE_COLS`` column. A value in the wrong hour moves the
    weighted sum, so the check sees more than totals."""
    from pyspark.sql import functions as F
    h = ((F.unix_timestamp("ts") - int(START.timestamp())) / 3600.0)
    exprs = [
        F.count(F.lit(1)).alias("rows"),
        F.sum(sum((F.col(f"`{c}`").isNull() | F.isnan(f"`{c}`")).cast("int")
                  for c in RAW_ZONES)).alias("raw_zone_nulls"),
        F.sum("accretion_forming").alias("forming_hours"),
        F.sum(F.col("accretion_forming") * h).alias("forming_weighted"),
    ]
    for c in KILN_VALUE_COLS:
        v = F.col(f"`{c}`")
        exprs += [F.count(v).alias(f"{c}.n"), F.sum(v).alias(f"{c}.s1"),
                  F.sum(v * v).alias(f"{c}.s2"), F.sum(v * h).alias(f"{c}.sh")]
    return exprs


def _moments(prefix: str, v: pd.Series, h: np.ndarray) -> dict[str, float]:
    ok = v.notna().values
    x = v.values[ok]
    return {f"{prefix}.n": int(ok.sum()), f"{prefix}.s1": x.sum(),
            f"{prefix}.s2": (x * x).sum(), f"{prefix}.sh": (x * h[ok]).sum()}


def kiln_fingerprint(tables: dict[str, pd.DataFrame]) -> dict[str, float]:
    """The same aggregates, recomputed in pandas from the generated tables."""
    hours = spine_hours(tables)
    h = ((hours - START) / pd.Timedelta(hours=1)).values.astype(float)
    forming = np.zeros(len(hours), dtype=int)
    for ev in tables["accretion_events"].itertuples():
        forming |= ((hours >= ev.START_DATE) & (hours < ev.CRITICAL_DATE)).astype(int)
    want = {"rows": len(hours), "raw_zone_nulls": 0, "out_cols": 501,
            "forming_hours": int(forming.sum()),
            "forming_weighted": float((forming * h).sum())}

    zone = tables["zone_temperature"]
    zh = zone.groupby(zone["DATETIME"].dt.floor("h")).mean(numeric_only=True).reindex(hours)
    qrt = tables["qrt_temperature"]
    qh = qrt.groupby([qrt["DATETIME"].dt.floor("h"), "ZONE"])["TEMPERATURE"].mean() \
        .unstack().reindex(hours)
    series = {f"zone_ZONE_{z}": zh[f"ZONE_{z}"] for z in (1, 7)}
    for z in (2, 3):
        filled = (qh[z].interpolate(method="time", limit_area="inside")
                  .ffill().bfill().fillna(0.0))
        series[f"qrt_ZONE_{z}"] = filled
        series[f"qrt_ZONE_{z}_roll_24"] = filled.rolling(24, min_periods=6).mean()
    for c in KILN_VALUE_COLS:
        want.update(_moments(c, series[c], h))
    return want


def fingerprints_match(got: dict, want: dict) -> list[str]:
    bad = []
    for k, w in want.items():
        g = got.get(k)
        if g is None or not np.isclose(float(g), float(w), rtol=RTOL, atol=1e-6):
            bad.append(f"{k} = {g}, expected {w}")
    return bad


# -- live_refresh: dashboard ------------------------------------------------------

THRESHOLDS = {0: 750.0, 1: 775.0, 2: 800.0, 3: 825.0, 4: 850.0, 5: 875.0,
              6: 875.0, 7: 875.0, 8: 850.0, 9: 825.0, 10: 800.0}


def serving_views(tables: dict[str, pd.DataFrame], long: pd.DataFrame,
                  start: pd.Timestamp, stride: int) -> dict[str, pd.DataFrame]:
    """The eight ``plans.serving`` views, recomputed over the same frames:
    the kiln ``tables`` and ``long`` as ``zone_temperature_long``."""
    mis = tables["mis_report"]
    shell = tables["shell_temperature"]

    trends = long[long["ts"] >= start].sort_values(["series", "ts"], kind="stable")
    rn = trends.groupby("series").cumcount()
    trends = trends[rn % stride == 0][["ts", "series", "value"]]

    prod = mis["PRODUCTION ACTUAL"]
    quality = pd.DataFrame({
        "day": mis["DATE"], "production": prod,
        "GRADE_A": mis["GRADE_A"], "GRADE_B": mis["GRADE_B"],
        "grade_a_pct": np.where(prod != 0, mis["GRADE_A"] * 100.0 / prod.where(prod != 0, 1), 0.0),
    })
    coal = mis["GROSS COAL CONSUMPTION"]
    material = pd.DataFrame({
        "day": mis["DATE"], "iron_ore": mis["IRON ORE CONSUMPTION"],
        "gross_coal": coal, "pellets": mis["PELLETS_CONSUMPTION"],
        "ore_coal_ratio": np.where(coal != 0, mis["IRON ORE CONSUMPTION"] / coal.where(coal != 0, 1), 0.0),
    })
    shell_mean = shell.groupby("DATE", as_index=False)["SHELL_TEMP_AVG"].mean() \
        .rename(columns={"SHELL_TEMP_AVG": "mean_shell_temp"})
    qva = mis.merge(shell_mean, on="DATE")[["DATE", "GRADE_A", "PRODUCTION ACTUAL",
                                            "mean_shell_temp"]] \
        .rename(columns={"DATE": "day", "PRODUCTION ACTUAL": "production"})
    latest_mis = mis.sort_values("DATE").tail(1)

    last = long.sort_values(["series", "ts"], kind="stable").groupby("series").tail(1)
    zone_ix = last["series"].map(lambda s: int(re.search(r"ZONE_(\d+)", s).group(1)))
    thr = zone_ix.map(THRESHOLDS)
    is_low = (last["value"] < thr).astype("int32")
    n_low = int(is_low.sum())
    status = pd.DataFrame({
        "zone": zone_ix.astype("int32").values, "temp": last["value"].values,
        "thr": thr.values, "is_low": is_low.values,
        "n_low_zones": np.full(len(last), n_low, dtype="int64"),
        "status": "temperature_anomaly" if n_low >= 3 else "normal",
        "model_probability": np.full(len(last), np.nan),
    })

    scatter = []
    for g in ("GRADE_A", "GRADE_B"):
        for m, col in (("IRON_ORE", "IRON ORE CONSUMPTION"),
                       ("GROSS_COAL", "GROSS COAL CONSUMPTION"),
                       ("PELLETS", "PELLETS_CONSUMPTION")):
            scatter.append(pd.DataFrame({
                "day": mis["DATE"], "grade_name": g, "grade_value": mis[g],
                "material_name": m, "material_value": mis[col]}))
    ev = tables["accretion_events"]
    timeline = ev[["EVENT_ID", "START_DATE", "CRITICAL_DATE", "CLEARED_DATE",
                   "ZONE", "DURATION_DAYS"]].assign(severity_class=np.select(
                       [ev["DURATION_DAYS"] >= 45, ev["DURATION_DAYS"] >= 25],
                       ["severe", "moderate"], "mild"))
    return {
        "v_zone_trends": trends, "v_production_quality": quality,
        "v_material_consumption": material, "v_quality_vs_accretion": qva,
        "v_latest_mis": latest_mis, "v_accretion_status": status,
        "v_quality_grades_scatter": pd.concat(scatter, ignore_index=True),
        "v_events_timeline": timeline,
    }


# -- live_refresh: ingest ------------------------------------------------------------

def expected_rollup(history: pd.DataFrame,
                    deliveries: list[pd.DataFrame]) -> pd.DataFrame:
    """Stored partials merged with a group-by of every delivered row."""
    rows = pd.concat(deliveries, ignore_index=True)
    delta = (rows.assign(day=rows["ts"].dt.date)
             .groupby(["day", "series"], as_index=False)["value"]
             .agg(n="count", sum_v="sum", min_v="min", max_v="max"))
    both = pd.concat([history, delta], ignore_index=True)
    out = both.groupby(["day", "series"], as_index=False).agg(
        n=("n", "sum"), sum_v=("sum_v", "sum"), min_v=("min_v", "min"),
        max_v=("max_v", "max"))
    out["avg_v"] = out["sum_v"] / out["n"]
    out["day"] = pd.to_datetime(out["day"])
    return out


def expected_alerts(deliveries: list[pd.DataFrame], threshold: float,
                    min_series: int, delay: pd.Timedelta) -> pd.DataFrame:
    """``threshold_alerts`` replayed over micro-batches, one per delivery.

    The watermark before a batch is the largest event time seen in earlier
    batches minus ``delay``; a row is admitted when its hour window ends
    after that watermark. An hour is emitted once the final watermark has
    passed its end. Each emitted hour counts the series whose admitted
    mean is below ``threshold``.
    """
    wm = pd.Timestamp.min
    admitted = []
    for rows in deliveries:
        hour = rows["ts"].dt.floor("h")
        admitted.append(rows[hour + pd.Timedelta(hours=1) > wm])
        wm = max(wm, rows["ts"].max() - delay)
    rows = pd.concat(admitted, ignore_index=True)
    rows = rows.assign(ts=rows["ts"].dt.floor("h"))
    rows = rows[rows["ts"] + pd.Timedelta(hours=1) <= wm]
    per = rows.groupby(["ts", "series"])["value"].mean().reset_index()
    per["low"] = (per["value"] < threshold).astype("int64")
    out = per.groupby("ts", as_index=False)["low"].sum() \
        .rename(columns={"low": "n_low_series"})
    out["alert"] = (out["n_low_series"] >= min_series).astype("int32")
    return out
