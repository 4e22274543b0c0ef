"""The two workloads. Each takes a ``Ctx`` and returns an ``Outcome``.

- ``paper_path``: the paper's three layers in one run. Set-up writes H
  history days into a fresh store and builds its serving table. Then one
  caller lands one new day of crafted GRIB2 files (F = 2 forecast runs per
  source) with ``DailyJob.ingest`` and runs ``DailyJob.run_partition``
  with the serving table: the write operation, from the first landing
  call until ``run_partition`` returns. Then 4 closed-loop client threads
  in a separate process send real ``GET /v1/environmental`` requests to
  ``grid.http_server`` over all H + 1 days, through the job's own serving
  table: the read operations, one request each. Nothing is written while
  the reads run.
- ``corpus_batches``: ``CorpusIngestJob(with_bm25=True, ivf_dim=64)``;
  set-up runs a bootstrap batch, then delta batches are timed. A batch is
  both the write operation and the closed-loop operation.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import statistics
import subprocess
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import corpus as C
import gribgen as G
import loadgen
import oracle
import store as ST
import truth as T

HISTORY_DAYS = 2  # H
IVF_DIM = 64


@dataclass
class Ctx:
    spark: object
    wd: str
    seed: int
    seconds: float
    tracer: object | None  # layers.Tracer when --trace 1
    mem: object  # harness.MemSampler
    # measured windows, phase ("write" | "read") -> [start, end], epoch ms
    windows: dict = field(default_factory=dict)


@dataclass
class Outcome:
    setup_s: float
    write_ms: list[float] = field(default_factory=list)  # every write op
    read_ms: list[float] = field(default_factory=list)  # every read (paper_path)
    attempted: int = 0
    failed: int = 0
    good_writes: int = 0
    good_reads: int = 0
    read_s: float = 0.0  # the reads' busy time per client
    counters: dict = field(default_factory=dict)
    report: dict = field(default_factory=dict)  # extra printed metrics

    def count(self, ok: bool, ms: float, read: bool) -> None:
        (self.read_ms if read else self.write_ms).append(ms)
        self.attempted += 1
        self.failed += not ok
        if read:
            self.good_reads += ok
        else:
            self.good_writes += ok


def _begin(ctx: Ctx, phase: str) -> None:
    """Start of a measured window; a traced run installs its spans here."""
    if ctx.tracer is not None:
        ctx.tracer.install()
    ctx.windows[phase] = [time.time() * 1000.0]


def _end(ctx: Ctx, phase: str) -> None:
    ctx.windows[phase].append(time.time() * 1000.0)
    if ctx.tracer is not None:
        ctx.tracer.uninstall()


def _timed(fn):
    """(fn(), seconds it took)."""
    t0 = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t0


# ----------------------------------------------------------- paper_path


def paper_path(ctx: Ctx) -> Outcome:
    from jackfruit_spark.grid.catalog import Catalog
    from jackfruit_spark.grid.engine import GridEngine
    from jackfruit_spark.grid.jobs import DailyJob, SourceConfig
    from jackfruit_spark.grid.serving import EnvironmentalService

    cfgs = {src: SourceConfig(src, T.SOURCES[src][0], T.SOURCES[src][1]) for src in T.SOURCES}

    def setup():
        rng = np.random.default_rng(ctx.seed)
        root = os.path.join(ctx.wd, "grid")
        gs = ST.build_history(ctx.spark, root, rng, HISTORY_DAYS)
        pool = G.PayloadPool(rng)  # CCSDS-encodes the run's X fields
        files = ST.day_files(rng, pool, gs.next_day)
        out.counters["parse_s"] = sum(G.verify_decodes(f) for f in files)
        job = DailyJob(ctx.spark, os.path.join(root, "raw"), gs.store_root,
                       list(cfgs.values()), serving_root=gs.serving_root)
        return gs, rng, files, job

    out = Outcome(0.0)
    (gs, rng, files, job), out.setup_s = _timed(setup)

    # the write operation: one day
    day = gs.next_day
    _begin(ctx, "write")
    t0 = time.perf_counter()
    try:
        for f in files:
            f.run_id = job.ingest(cfgs[f.source], day, f.payload)
        written = job.run_partition(day)
    except Exception as e:  # noqa: BLE001 — a raised ingest is a failed op
        print(f"paper_path: ingest of {day} raised {e!r}", file=sys.stderr)
        written = None
    ms = (time.perf_counter() - t0) * 1000.0
    _end(ctx, "write")
    per_file = [T.transform_file(f, f.run_id or "") for f in files]
    day_fields = [x for fields in per_file for x in fields]
    ok = written is not None and all(
        written.get(f"{f.source}:{f.run_id}") == oracle.expected_rows(fields)
        for f, fields in zip(files, per_file)
    )
    ok = ok and _check_stored_day(ctx.spark, gs.serving_root, day, day_fields)
    out.count(ok, ms, read=False)
    out.counters["points"] = sum(m.values.size for f in files for m in f.messages)
    out.counters["raw_bytes"] = sum(len(f.payload) for f in files)
    out.report["ingest_day_s"] = ms / 1000.0

    # the reads, over the history and the new day
    def read_setup():
        gs.truth.add(day_fields)
        engine = GridEngine(ctx.spark, gs.store_root)
        catalog = Catalog(ctx.spark, os.path.join(gs.store_root, "catalog"))
        service = EnvironmentalService(
            engine.grid_data_raw(), catalog.curated_data(), catalog.raw_files(),
            serving_table=job.serving_table,
        )
        return service, oracle.make_requests(rng, gs.truth)

    (service, reqs), read_setup_s = _timed(read_setup)
    warm_s, kinds = _serve_reads(ctx, service, reqs, out)
    out.setup_s += read_setup_s + warm_s
    by_kind: dict[str, list[float]] = {}
    for ms, kind in zip(out.read_ms, kinds):
        by_kind.setdefault(kind, []).append(ms)
    for kind, v in sorted(by_kind.items()):
        out.report[f"read_p50_ms[{kind}] (n={len(v)})"] = statistics.median(v)
    out.report["read_p50_ms"] = statistics.median(out.read_ms)
    # the highest percentile with at least ten samples beyond it
    n = len(out.read_ms)
    if n >= 20:
        q = int(100 * (n - 10) / n)
        out.report[f"read_p{q}_ms (n={n})"] = float(np.percentile(out.read_ms, q))
    return out


def _check_stored_day(spark, serving_root: str, day: dt.date, fields: list[T.Field]) -> bool:
    """Untimed end-to-end value check: the serving table's rows for the
    ingested day equal the oracle's decoded and transformed fields."""
    import pandas as pd
    from pyspark.sql import functions as F

    got = (
        spark.read.parquet(os.path.join(serving_root, "data"))
        .filter(F.col("date") == F.lit(day))
        .select("variable", "timestamp", "lat", "lon", "value")
        .toPandas()
    )
    want_n = sum(f.value.size for f in fields)
    if len(got) != want_n:
        print(f"paper_path: {len(got)} stored rows for {day}, expected {want_n}", file=sys.stderr)
        return False
    got = got.sort_values(["variable", "timestamp", "lat", "lon"]).reset_index(drop=True)
    want = pd.concat(
        [
            pd.DataFrame({"variable": f.variable, "timestamp": pd.Timestamp(f.valid_time),
                          "lat": f.lat, "lon": f.lon, "value": f.value})
            for f in fields
        ]
    ).sort_values(["variable", "timestamp", "lat", "lon"]).reset_index(drop=True)
    same_keys = (
        (got["variable"].values == want["variable"].values).all()
        and (got["timestamp"].values == want["timestamp"].values.astype(got["timestamp"].dtype)).all()
        and np.array_equal(got["lat"].values.astype(np.float32), want["lat"].values)
        and np.array_equal(got["lon"].values.astype(np.float32), want["lon"].values)
    )
    close = np.allclose(got["value"].values.astype(np.float64), want["value"].values.astype(np.float64),
                        rtol=2e-6, atol=0.0)
    if not (same_keys and close):
        print(f"paper_path: stored values for {day} differ from the oracle", file=sys.stderr)
    return bool(same_keys and close)


def _serve_reads(ctx: Ctx, service, reqs: list[dict], out: Outcome) -> tuple[float, list[str]]:
    """Serve ``service`` over real HTTP and run the load generator against
    it for the run's seconds; count every read in ``out``. Returns the
    seconds from starting the load generator until it had warmed up, and
    each read's request kind."""
    from jackfruit_spark.grid.http_server import make_server, serve_background

    here = os.path.dirname(os.path.abspath(__file__))
    req_path = os.path.join(ctx.wd, "requests.json")
    ready_path = os.path.join(ctx.wd, "loadgen.ready")
    go_path = os.path.join(ctx.wd, "loadgen.go")
    res_path = os.path.join(ctx.wd, "results.json")
    with open(req_path, "w") as f:
        json.dump(reqs, f)
    server = make_server(service, port=0)
    serve_background(server)
    proc = None
    try:
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            [sys.executable, os.path.join(here, "loadgen.py"),
             "--port", str(server.server_address[1]), "--requests", req_path,
             "--seconds", str(ctx.seconds), "--out", res_path,
             "--ready", ready_path, "--go", go_path],
        )
        ctx.mem.exclude.add(proc.pid)
        # the window opens once the load generator has warmed up, and its
        # clients start only after the spans are installed
        while proc.poll() is None and not os.path.exists(ready_path):
            time.sleep(0.01)
        warm_s = time.perf_counter() - t0
        _begin(ctx, "read")
        open(go_path, "w").close()
        proc.wait()
        _end(ctx, "read")
        if proc.returncode != 0:
            raise RuntimeError("load generator failed")
        with open(res_path) as f:
            r = json.load(f)
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        server.shutdown()
        server.server_close()
    for ms, ok, _kind, _status in r["results"]:
        out.count(bool(ok), ms, read=True)
    # each client's busy time: the clients' summed latency over their count.
    # Unlike the wall time it leaves out the tail in which the last requests
    # finish after the deadline with fewer clients busy.
    out.read_s = sum(out.read_ms) / 1000.0 / loadgen.CLIENTS
    return warm_s, [kind for _ms, _ok, kind, _status in r["results"]]


# ------------------------------------------------------- corpus_batches


def corpus_batches(ctx: Ctx) -> Outcome:
    from jackfruit_spark.operators.ingest_job import CorpusIngestJob

    def frame(batch: C.Batch):
        return ctx.spark.createDataFrame(batch.rows, "doc_id long, text string")

    def setup():
        gen = C.CorpusGen(np.random.default_rng(ctx.seed))
        job = CorpusIngestJob(ctx.spark, os.path.join(ctx.wd, "corpus"),
                              with_bm25=True, ivf_dim=IVF_DIM)
        b0 = gen.bootstrap()
        stats = job.run_batch(b0.batch_id, frame(b0))
        if not _batch_ok(stats, b0.expect):
            raise AssertionError(f"bootstrap batch stats {stats} != {b0.expect}")
        return gen, job

    (gen, job), setup_s = _timed(setup)
    out = Outcome(setup_s)
    start = time.perf_counter()
    kept = curated = 0
    _begin(ctx, "write")
    # closed loop: at least one batch, then another while it is expected to
    # end inside the run's seconds; a batch takes longer than a run's
    # seconds, so a run times one
    while not out.write_ms or time.perf_counter() + out.write_ms[-1] / 1000.0 <= start + ctx.seconds:
        batch = gen.delta()
        df = frame(batch)
        t0 = time.perf_counter()
        try:
            stats = job.run_batch(batch.batch_id, df)
            ok = _batch_ok(stats, batch.expect)
            if not ok:
                print(f"corpus_batches: {batch.batch_id} stats {stats} != {batch.expect}",
                      file=sys.stderr)
        except Exception as e:  # noqa: BLE001 — a raised batch is a failed op
            print(f"corpus_batches: {batch.batch_id} raised {e!r}", file=sys.stderr)
            stats, ok = {}, False
        out.count(ok, (time.perf_counter() - t0) * 1000.0, read=False)
        kept += stats.get("kept", 0)
        curated += stats.get("curated", 0)
    _end(ctx, "write")
    out.counters.update(kept=kept, curated=curated)
    out.report["corpus_batch_s"] = statistics.median(out.write_ms) / 1000.0
    return out


def _batch_ok(stats: dict, expect: dict) -> bool:
    return all(stats.get(k) == v for k, v in expect.items()) and stats.get("applied") is True


WORKLOADS = {"paper_path": paper_path, "corpus_batches": corpus_batches}
