"""Crafted GRIB2 writer and seeded day generator.

Messages are regular lat/lon grids (template 3.0) with either a CAMS
atmospheric-constituent product (template 4.40, constituentType 40008 =
pm10 / 40009 = pm2p5) or an ECMWF forecast product (template 4.0, params
(0,0,0) = 2t / (0,0,6) = 2d), packed as DRS 5.42 with the program's own
``ccsds.encode``. The layout follows the minimal writer the GRIB2 parser
tests use.

Every value is ``(R + X * 2**E) * 10**-D`` with integer X, so the expected
decoded field is known exactly here, independent of the parser. CCSDS
encoding is slow in pure Python, so each run encodes a small pool of X
fields once per grid shape and builds every message from a pool entry
plus its own R/E/D; distinct messages still carry distinct values.
"""

from __future__ import annotations

import datetime as dt
import struct
import time
from dataclasses import dataclass, field

import numpy as np

NBITS = 12
BLOCK = 32
RSI = 128
POOL_SIZE = 2  # encoded X fields per grid shape


# ------------------------------------------------------------- grids


@dataclass(frozen=True)
class Grid:
    """Regular grid scanning +i (east), -j (south), in micro-degrees so the
    writer and the expected arrays agree bit for bit with the parser."""

    nj: int
    ni: int
    lat1_u: int
    lon1_u: int
    step_u: int

    def latlon(self) -> tuple[np.ndarray, np.ndarray]:
        """(lats, lons) as the parser computes them, float64 (nj, ni)."""
        lat1, lon1 = self.lat1_u / 1e6, self.lon1_u / 1e6
        d = int(self.step_u) / 1e6
        lons_1d = lon1 + d * np.arange(self.ni)
        lats_1d = lat1 - d * np.arange(self.nj)
        lons_1d = ((lons_1d + 180.0) % 360.0) - 180.0
        lons, lats = np.meshgrid(lons_1d, lats_1d)
        return lats, lons


def cams_grid(step_u: int) -> Grid:
    """The CAMS Europe box (30..72 N, -25..45 E) sampled at cell centres;
    step 0.1 deg gives the reference's 420 x 700 grid."""
    nj = round(42_000_000 / step_u)
    ni = round(70_000_000 / step_u)
    return Grid(nj, ni, 72_000_000 - step_u // 2, -25_000_000 + step_u // 2, step_u)


def ecmwf_grid(step_u: int) -> Grid:
    """Global grid from 90 N, first longitude 180 (normalised to -180 by the
    parser), as in ECMWF open-data files; 0.25 deg gives 721 x 1440."""
    nj = round(180_000_000 / step_u) + 1
    ni = round(360_000_000 / step_u)
    return Grid(nj, ni, 90_000_000, 180_000_000, step_u)


# ----------------------------------------------------------- messages


@dataclass(frozen=True)
class Product:
    kind: str  # "cams" | "ecmwf"
    code: int  # constituentType (cams) or parameterNumber (ecmwf, cat 0)


PRODUCTS = {
    "pm10": Product("cams", 40008),
    "pm2p5": Product("cams", 40009),
    "temperature": Product("ecmwf", 0),
    "dewpoint": Product("ecmwf", 6),
}

# (R offset range, E, D) per variable: CAMS kg m-3 around 1e-9..1e-7,
# ECMWF Kelvin with 1/16 K resolution
SCALING = {
    "pm10": ((0, 200), 0, 11),
    "pm2p5": ((0, 100), 0, 11),
    "temperature": ((250, 270), -4, 0),
    "dewpoint": ((235, 250), -4, 0),
}


def _sec(num: int, body: bytes) -> bytes:
    return struct.pack(">IB", 5 + len(body), num) + body


def _sm32(v: int) -> bytes:
    """GRIB2 sign-magnitude 32-bit integer."""
    return struct.pack(">I", abs(v) | (0x80000000 if v < 0 else 0))


def _sm16(v: int) -> bytes:
    return struct.pack(">H", abs(v) | (0x8000 if v < 0 else 0))


def encode_message(
    grid: Grid,
    product: Product,
    ref_time: dt.datetime,
    step_h: int,
    payload: bytes,
    ref_value: float,
    e: int,
    d: int,
) -> bytes:
    """One GRIB2 message: sections 0-8 around an already CCSDS-encoded
    payload of NBITS-wide samples."""
    from jackfruit_spark.sources import ccsds

    flags = ccsds.AEC_DATA_PREPROCESS | ccsds.AEC_DATA_MSB
    centre = 210 if product.kind == "cams" else 98
    s1 = _sec(
        1,
        struct.pack(
            ">HHBBBHBBBBB", centre, 0, 29, 1, 1, ref_time.year, ref_time.month,
            ref_time.day, ref_time.hour, ref_time.minute, ref_time.second,
        )
        + b"\x00\x01",
    )
    last_lat = grid.lat1_u - grid.step_u * (grid.nj - 1)
    last_lon = grid.lon1_u + grid.step_u * (grid.ni - 1)
    s3 = _sec(
        3,
        b"\x00" + struct.pack(">I", grid.ni * grid.nj) + b"\x00\x00"
        + struct.pack(">H", 0) + b"\x06" + b"\x00" * 15
        + struct.pack(">II", grid.ni, grid.nj) + b"\x00" * 8
        + _sm32(grid.lat1_u) + _sm32(grid.lon1_u) + b"\x30"
        + _sm32(last_lat) + _sm32(last_lon)
        + struct.pack(">II", grid.step_u, grid.step_u) + b"\x00",
    )
    if product.kind == "cams":
        pdt = (
            struct.pack(">HH", 0, 40) + bytes([20, 0]) + struct.pack(">H", product.code)
            + bytes([2, 255, 255]) + struct.pack(">H", 0) + bytes([0, 1])
            + struct.pack(">I", step_h) + bytes([1, 0, 0, 0, 0, 0, 0, 0, 0])
        )
    else:
        pdt = (
            struct.pack(">HH", 0, 0) + bytes([0, product.code, 2, 255, 255])
            + struct.pack(">H", 0) + bytes([0, 1]) + struct.pack(">I", step_h)
            + bytes([103, 0]) + struct.pack(">I", 2) + bytes([255, 0, 0, 0, 0, 0])
        )
    s4 = _sec(4, pdt)
    s5 = _sec(
        5,
        struct.pack(">I", grid.ni * grid.nj) + struct.pack(">H", 42)
        + struct.pack(">f", ref_value) + _sm16(e) + _sm16(d)
        + bytes([NBITS, 0, flags, BLOCK]) + struct.pack(">H", RSI),
    )
    s6 = _sec(6, b"\xff")
    s7 = _sec(7, payload)
    body = s1 + s3 + s4 + s5 + s6 + s7 + b"7777"
    discipline = 0
    head = b"GRIB\x00\x00" + bytes([discipline, 2]) + struct.pack(">Q", 16 + len(body))
    return head + body


def smooth_field(rng: np.random.Generator, nj: int, ni: int) -> np.ndarray:
    """Integer field in [0, 2**NBITS): a few seeded sinusoids plus noise —
    smooth like a forecast field, so the CCSDS splitting options engage."""
    j = np.arange(nj)[:, None] / max(nj, 1)
    i = np.arange(ni)[None, :] / max(ni, 1)
    f = np.zeros((nj, ni))
    for _ in range(3):
        a, b, p = rng.uniform(1, 6), rng.uniform(1, 6), rng.uniform(0, 2 * np.pi)
        f += np.sin(2 * np.pi * (a * j + b * i) + p)
    f += rng.normal(0, 0.05, (nj, ni))
    f = (f - f.min()) / (f.max() - f.min() + 1e-12)
    return np.round(f * (2**NBITS - 1)).astype(np.int64)


@dataclass
class PayloadPool:
    """A few CCSDS-encoded X fields per grid shape, shared by the run's
    messages."""

    rng: np.random.Generator
    encode: bool = True  # False: X fields only, for stores built without GRIB
    _pool: dict = field(default_factory=dict)

    def get(self, grid: Grid, k: int) -> tuple[np.ndarray, bytes]:
        from jackfruit_spark.sources import ccsds

        key = (grid.nj, grid.ni)
        if key not in self._pool:
            entries = []
            for _ in range(POOL_SIZE):
                x = smooth_field(self.rng, grid.nj, grid.ni)
                flags = ccsds.AEC_DATA_PREPROCESS | ccsds.AEC_DATA_MSB
                payload = (
                    ccsds.encode(x.ravel(), NBITS, BLOCK, RSI, flags) if self.encode else b""
                )
                entries.append((x, payload))
            self._pool[key] = entries
        return self._pool[key][k % POOL_SIZE]


# ----------------------------------------------------------- raw files


@dataclass
class Message:
    """Generator-side truth for one message."""

    variable: str
    valid_time: dt.datetime
    values: np.ndarray  # (nj, ni) float64, exactly what DRS 5.42 decodes to
    grid: Grid


@dataclass
class RawFile:
    source: str  # "ads" (CAMS) | "ecmwf"
    payload: bytes
    messages: list[Message]
    run_id: str | None = None  # set by the landing call


def expected_values(x: np.ndarray, ref_value: float, e: int, d: int) -> np.ndarray:
    """DRS 5.42 scaling with R read back as IEEE float32."""
    r = float(np.float32(ref_value))
    return (r + x * (2.0**e)) * (10.0**-d)


def make_raw_file(
    rng: np.random.Generator,
    pool: PayloadPool,
    source: str,
    grid: Grid,
    variables: tuple[str, ...],
    day: dt.date,
    run_hour: int,
    steps_h: tuple[int, ...],
) -> RawFile:
    ref_time = dt.datetime(day.year, day.month, day.day, run_hour)
    parts, msgs = [], []
    for step in steps_h:
        for var in variables:
            (lo, hi), e, d = SCALING[var]
            ref_value = float(rng.integers(lo, hi))
            x, payload = pool.get(grid, int(rng.integers(0, 1 << 30)))
            if pool.encode:
                parts.append(
                    encode_message(grid, PRODUCTS[var], ref_time, step, payload, ref_value, e, d)
                )
            msgs.append(
                Message(
                    var, ref_time + dt.timedelta(hours=step),
                    expected_values(x, ref_value, e, d), grid,
                )
            )
    return RawFile(source, b"".join(parts), msgs)


def verify_decodes(raw: RawFile) -> float:
    """Decode the file with the program's parser; every message must carry
    real values equal to the generator's. This runs before the file is
    timed, so a parser that silently fell back to synthetic values fails
    the run instead of being timed. Returns the parser's seconds."""
    from jackfruit_spark.sources import grib2_meta as G2

    t0 = time.perf_counter()
    got = G2.parse_grib2(raw.payload)
    parse_s = time.perf_counter() - t0
    if len(got) != len(raw.messages):
        raise AssertionError(f"{len(got)} messages decoded, {len(raw.messages)} written")
    for m, want in zip(got, raw.messages):
        if not m.values_decodable or m.drs_template != 42:
            raise AssertionError(f"message not decodable as DRS 5.42: {want.variable}")
        if m.variable_name != want.variable or m.valid_time != want.valid_time:
            raise AssertionError(f"metadata mismatch for {want.variable} {want.valid_time}")
        if not np.array_equal(m.values, want.values):
            raise AssertionError(f"value mismatch for {want.variable} {want.valid_time}")
        lats, lons = m.grid.latlon()
        glats, glons = want.grid.latlon()
        if not (np.array_equal(lats, glats) and np.array_equal(lons, glons)):
            raise AssertionError(f"grid mismatch for {want.variable}")
    return parse_s
