"""Set-up of the H-day grid store the grid workloads start from.

History days are written in bulk through the program's public store
calls (``GridEngine.insert_grid`` over a parquet file of the generated
rows, ``Catalog.insert_raw_file``,
``Catalog.upsert_curated_data``, ``ServingTable.build``) instead of one
``DailyJob.run_partition`` per day: the full GRIB path costs tens of
seconds per day on 4 cores, and the grid workloads need history only for
its size (catalog rows, manifest entries, parquet partitions). The rows
are the generator's truth, so the read oracle knows every stored value.
"""

from __future__ import annotations

import datetime as dt
import os
import uuid
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gribgen as G
import truth as T

# Input sizes. Scaled from the reference's 420 x 700 CAMS and 721 x 1440
# ECMWF grids so that one run, set-up included, fits the time budget.
CAMS_STEP_U = 500_000  # 0.5 deg -> 84 x 140
ECMWF_STEP_U = 1_500_000  # 1.5 deg global -> 121 x 240, 29 x 47 after the clip
RUN_HOURS = (0, 12)  # F = 2 forecast runs (raw files) per source per day
STEPS_H = (0, 3, 6)  # forecast steps per run
FIRST_DAY = dt.date(2026, 1, 1)
INSERTED_AT = dt.datetime(2026, 1, 1)


def seeded_uuid(rng: np.random.Generator) -> str:
    return str(uuid.UUID(bytes=rng.bytes(16), version=4))


def day_files(
    rng: np.random.Generator, pool: G.PayloadPool, day: dt.date
) -> list[G.RawFile]:
    """One day's raw files: F runs per source, every step, both variables."""
    grids = {"ads": G.cams_grid(CAMS_STEP_U), "ecmwf": G.ecmwf_grid(ECMWF_STEP_U)}
    return [
        G.make_raw_file(rng, pool, src, grids[src], T.SOURCES[src][2], day, hour, STEPS_H)
        for src in ("ads", "ecmwf")
        for hour in RUN_HOURS
    ]


@dataclass
class GridStore:
    store_root: str
    serving_root: str
    truth: T.Truth
    next_day: dt.date


def build_history(spark, root: str, rng: np.random.Generator, days: int) -> GridStore:
    """Write ``days`` days of fields into a fresh store under ``root`` and
    build its serving table."""
    from jackfruit_spark.grid import schemas as S
    from jackfruit_spark.grid.catalog import Catalog
    from jackfruit_spark.grid.engine import GridEngine
    from jackfruit_spark.grid.serving_table import ServingTable

    pool = G.PayloadPool(rng, encode=False)
    truth = T.Truth()
    raw_rows, cur_rows, tables = [], [], []
    for k in range(days):
        day = FIRST_DAY + dt.timedelta(days=k)
        for raw in day_files(rng, pool, day):
            run_id = seeded_uuid(rng)
            dataset = T.SOURCES[raw.source][0]
            raw_rows.append(
                (run_id, raw.source, dataset, day,
                 f"{raw.source}/{dataset}/{day:%Y-%m-%d}/{run_id}.grib", INSERTED_AT)
            )
            fields = T.transform_file(raw, run_id)
            truth.add(fields)
            for f in fields:
                cid = seeded_uuid(rng)
                cur_rows.append((cid, run_id, f.variable, T.UNITS[f.variable], f.valid_time, INSERTED_AT))
                n = f.value.size
                const = lambda v, t: pa.repeat(pa.scalar(v, t), n)  # noqa: E731
                tables.append(
                    pa.table(
                        {
                            "variable": const(f.variable, pa.string()),
                            "timestamp": const(f.valid_time, pa.timestamp("us")),
                            "lat": f.lat,
                            "lon": f.lon,
                            "value": f.value,
                            "unit": const(T.UNITS[f.variable], pa.string()),
                            "catalog_id": const(cid, pa.string()),
                            "inserted_at": const(INSERTED_AT, pa.timestamp("us")),
                        }
                    )
                )
    store_root = os.path.join(root, "store")
    serving_root = os.path.join(root, "serving")
    rows_path = os.path.join(root, "history_rows.parquet")
    os.makedirs(root, exist_ok=True)
    pq.write_table(pa.concat_tables(tables), rows_path)
    engine = GridEngine(spark, store_root)
    engine.insert_grid(spark.read.schema(S.GRID_DATA).parquet(rows_path))
    catalog = Catalog(spark, os.path.join(store_root, "catalog"))
    catalog.insert_raw_file(spark.createDataFrame(raw_rows, schema=S.RAW_FILES))
    catalog.upsert_curated_data(spark.createDataFrame(cur_rows, schema=S.CURATED_DATA))
    ServingTable.build(spark, engine.grid_data_final_clustered(), serving_root, clustered=True)
    return GridStore(store_root, serving_root, truth, FIRST_DAY + dt.timedelta(days=days))
