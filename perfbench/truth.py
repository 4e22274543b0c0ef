"""Generator-side truth for the grid store: what every (variable, valid
time) grid must hold once the program has decoded, transformed and
stored it, computed in numpy from the generator's own arrays.

The transforms mirror the program's column expressions in the same
floating-point order: the decode emits float32, CAMS multiplies by 1e9
in float64, ECMWF is clipped to the Europe box on float32 coordinates,
converted to Celsius in float64, paired per point and given Magnus
humidity, and the store keeps float32.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np

import gribgen as G

SOURCES = {
    # source -> (dataset, DailyJob kind, variables in the raw files)
    "ads": ("cams-europe-air-quality-forecasts", "cams", ("pm10", "pm2p5")),
    "ecmwf": ("ifs-open-data", "ecmwf", ("temperature", "dewpoint")),
}
STORED_VARIABLES = ("pm10", "pm2p5", "temperature", "dewpoint", "humidity")
UNITS = {
    "pm10": "µg/m³",
    "pm2p5": "µg/m³",
    "temperature": "°C",
    "dewpoint": "°C",
    "humidity": "%",
}
EUROPE = (30.0, 72.0, -25.0, 45.0)
MAGNUS_A, MAGNUS_B = 17.625, 243.04


@dataclass
class Field:
    """One stored (variable, valid time) grid, flattened."""

    variable: str
    valid_time: dt.datetime
    lat: np.ndarray  # float32
    lon: np.ndarray  # float32
    value: np.ndarray  # float32
    source: str
    run_id: str  # raw_file_id in the lineage


def magnus(tc: np.ndarray, tdc: np.ndarray) -> np.ndarray:
    num = np.exp(MAGNUS_A * tdc / (MAGNUS_B + tdc))
    den = np.exp(MAGNUS_A * tc / (MAGNUS_B + tc))
    return 100.0 * num / den


def transform_file(raw: G.RawFile, run_id: str) -> list[Field]:
    """The stored fields one raw file yields."""
    out: list[Field] = []
    if raw.source == "ads":
        for m in raw.messages:
            lats, lons = m.grid.latlon()
            v32 = m.values.ravel().astype(np.float32)
            out.append(
                Field(
                    m.variable, m.valid_time,
                    lats.ravel().astype(np.float32), lons.ravel().astype(np.float32),
                    (v32.astype(np.float64) * 1e9).astype(np.float32),
                    raw.source, run_id,
                )
            )
        return out
    by_time: dict[dt.datetime, dict[str, G.Message]] = {}
    for m in raw.messages:
        by_time.setdefault(m.valid_time, {})[m.variable] = m
    for ts, pair in sorted(by_time.items()):
        if "temperature" not in pair or "dewpoint" not in pair:
            continue
        grid = pair["temperature"].grid
        lats, lons = grid.latlon()
        lat32 = lats.ravel().astype(np.float32)
        lon32 = lons.ravel().astype(np.float32)
        la, lo = lat32.astype(np.float64), lon32.astype(np.float64)
        keep = (la >= EUROPE[0]) & (la <= EUROPE[1]) & (lo >= EUROPE[2]) & (lo <= EUROPE[3])
        tc = pair["temperature"].values.ravel().astype(np.float32)[keep].astype(np.float64) - 273.15
        tdc = pair["dewpoint"].values.ravel().astype(np.float32)[keep].astype(np.float64) - 273.15
        for var, vals in (("temperature", tc), ("dewpoint", tdc), ("humidity", magnus(tc, tdc))):
            out.append(
                Field(var, ts, lat32[keep], lon32[keep], vals.astype(np.float32), raw.source, run_id)
            )
    return out


class Truth:
    """Every stored field, indexed for the read oracle."""

    def __init__(self) -> None:
        self.by_var: dict[str, list[Field]] = {v: [] for v in STORED_VARIABLES}

    def add(self, fields: list[Field]) -> None:
        for f in fields:
            lst = self.by_var[f.variable]
            lst.append(f)
            lst.sort(key=lambda x: x.valid_time)

    def snap(self, var: str, ts: dt.datetime) -> Field | None:
        """Latest field of ``var`` valid at or before ``ts``."""
        best = None
        for f in self.by_var.get(var, []):
            if f.valid_time <= ts:
                best = f
        return best

    def first_time(self) -> dt.datetime:
        return min(f.valid_time for lst in self.by_var.values() for f in lst)

    def last_time(self) -> dt.datetime:
        return max(f.valid_time for lst in self.by_var.values() for f in lst)


def nearest(f: Field, lat: float, lon: float) -> int:
    """Index of the nearest point by squared degrees in float64, ties to the
    smaller latitude, then the smaller longitude (the serving plans'
    max-struct order)."""
    dlat = f.lat.astype(np.float64) - lat
    dlon = f.lon.astype(np.float64) - lon
    d = dlat * dlat + dlon * dlon
    cand = np.flatnonzero(d == d.min())
    if cand.size > 1:
        order = np.lexsort((f.lon[cand], f.lat[cand]))
        return int(cand[order[0]])
    return int(cand[0])
