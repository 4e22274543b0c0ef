"""Correctness oracle: the seeded request mix with the response each request
must get, checked field by field; expected row counts for a GRIB day; the
expected keep/drop counts for a corpus delta.

Read answers are derived from the generator's truth with the reference
semantics: per variable, snap to the latest valid time at or before the
request time, nearest grid point by squared degrees (ties to the smaller
latitude, then longitude), lineage of the raw file that carried it. Any
missing variable makes the whole request 404; invalid input is 400.
"""

from __future__ import annotations

import datetime as dt
import math

import numpy as np

import truth as T

# one block of the request mix, repeated in this fixed order: every prefix
# of the request list holds the kinds in nearly these proportions, so runs
# that time different numbers of requests still see the same mix
BLOCK = ("grid", "grid", "grid", "offgrid", "grid", "grid", "notfound", "grid", "grid", "bad",
         "grid", "grid", "grid", "offgrid", "grid", "grid", "notfound", "grid", "grid", "grid")
N_REQUESTS = 1000  # the load generator cycles through them


def _rfc3339(ts: dt.datetime) -> str:
    return ts.strftime("%Y-%m-%dT%H:%M:%SZ")


def _expected_200(truth: T.Truth, lat: float, lon: float, ts: dt.datetime, variables) -> dict:
    out = []
    for var in variables:
        f = truth.snap(var, ts)
        i = T.nearest(f, lat, lon)
        out.append(
            {
                "name": var,
                "value": float(f.value[i]),
                "unit": T.UNITS[var],
                "ref_timestamp": _rfc3339(f.valid_time),
                "actual_lat": float(f.lat[i]),
                "actual_lon": float(f.lon[i]),
                "lineage": {
                    "source": f.source,
                    "dataset": T.SOURCES[f.source][0],
                    "raw_file_id": f.run_id,
                },
            }
        )
    return {"status": 200, "variables": out}


def make_requests(rng: np.random.Generator, truth: T.Truth) -> list[dict]:
    """N_REQUESTS requests, each ``{"kind", "params", "expect"}``. Timestamps are
    whole seconds, uniform over the stored span, so most fall between
    forecast steps and the snap decides the answer. Requests ask for 1, 2
    or 3 variables in turn."""
    t0, t1 = truth.first_time(), truth.last_time() + dt.timedelta(hours=3)
    span = int((t1 - t0).total_seconds())
    out = []
    for i in range(N_REQUESTS):
        kind = BLOCK[i % len(BLOCK)]
        ts = t0 + dt.timedelta(seconds=int(rng.integers(0, span)))
        k = 1 + i % 3
        variables = [T.STORED_VARIABLES[j] for j in rng.choice(len(T.STORED_VARIABLES), k, replace=False)]
        lat = round(float(rng.uniform(T.EUROPE[0], T.EUROPE[1])), 4)
        lon = round(float(rng.uniform(T.EUROPE[2], T.EUROPE[3])), 4)
        if kind == "offgrid":
            # far enough from the box that the +-1 deg window is empty
            lat = round(float(rng.uniform(0.0, 25.0)), 4)
            lon = round(float(rng.uniform(-90.0, 90.0)), 4)
        params = {"lat": repr(lat), "lon": repr(lon), "timestamp": _rfc3339(ts)}
        if kind == "notfound":
            if rng.random() < 0.5:
                ts = t0 - dt.timedelta(hours=int(rng.integers(1, 48)))
                params["timestamp"] = _rfc3339(ts)
            else:
                variables = variables[:1] + ["ozone"]
            expect = {"status": 404}
        elif kind == "bad":
            if rng.random() < 0.5:
                params["lat"] = repr(round(float(rng.uniform(90.5, 120.0)), 4))
            else:
                params["timestamp"] = ts.strftime("%Y-%m-%d %H:%M")
            expect = {"status": 400}
        else:
            expect = _expected_200(truth, lat, lon, ts, variables)
        params["variables"] = ",".join(variables)
        out.append({"kind": kind, "params": params, "expect": expect})
    return out


def _close(a: float, b: float) -> bool:
    """float32 values compared within a few ulps: the program computes
    Magnus humidity with the JVM's exp, the oracle with numpy's."""
    return math.isclose(a, b, rel_tol=2e-6, abs_tol=1e-30)


def check_response(expect: dict, status: int, body: dict | None) -> bool:
    if status != expect["status"]:
        return False
    if status != 200:
        return True
    got = (body or {}).get("variables") or []
    want = expect["variables"]
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if (
            g.get("name") != w["name"]
            or g.get("unit") != w["unit"]
            or g.get("ref_timestamp") != w["ref_timestamp"]
            or g.get("actual_lat") != w["actual_lat"]
            or g.get("actual_lon") != w["actual_lon"]
            or g.get("lineage") != w["lineage"]
            or not isinstance(g.get("value"), (int, float))
            or not _close(float(g["value"]), w["value"])
        ):
            return False
    return True


# ------------------------------------------------------------- ingest


def expected_rows(fields: list[T.Field]) -> int:
    return sum(f.value.size for f in fields)
