#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload paper_path|corpus_batches|all \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout of the repository. Builds its inputs from
the seed, drives the program through its public entry points on
``local[4]``, checks every output against the oracle, prints a readable
table and, as the last stdout line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` turns on the span wrappers and
Spark's event log and reports the per-layer metrics, printing the
per-layer table and keeping the event log and spans under
``.perfbench_out/``. Exits 1 on any correctness mismatch, 2 when the
program cannot be found.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# (name, unit); the same lists as BENCHMARK.json
END_TO_END = [
    ("setup_s", "s"),
    ("peak_pss_mb", "MB"),
    ("write_op_ms", "ms"),
    ("op_p50_ms", "ms"),
    ("ok_ops_per_s", "1/s"),
]
PER_LAYER = [
    ("bench.canary_ms", "ms"),
    ("bench.canary_drift_frac", "ratio"),
    ("bench.trace_overhead_frac", "ratio"),
    ("spark.jobs_per_write", "count"),
    ("spark.tasks_per_write", "count"),
    ("spark.executor_run_ms_per_write", "ms"),
    ("spark.executor_cpu_ms_per_write", "ms"),
    ("spark.python_worker_share", "ratio"),
    ("spark.input_bytes_per_write", "bytes"),
    ("spark.shuffle_write_bytes_per_write", "bytes"),
    ("spark.output_bytes_per_write", "bytes"),
    ("spark.tasks_per_read", "count"),
    ("spark.spill_bytes", "bytes"),
    ("spark.unattributed_jobs", "count"),
    ("sources.decode_mpts_per_s", "Mpt/s"),
    ("sources.scan_bytes_per_raw_byte", "ratio"),
    ("sources.python_worker_share", "ratio"),
    ("grid.jobs.land_share", "ratio"),
    ("grid.jobs.run_partition_share", "ratio"),
    ("grid.catalog.insert_raw_file_share", "ratio"),
    ("grid.catalog.upsert_share", "ratio"),
    ("grid.catalog.rows_rewritten_per_call", "count"),
    ("grid.pipeline.transform_share", "ratio"),
    ("grid.pipeline.jobs_per_day", "count"),
    ("grid.engine.insert_share", "ratio"),
    ("grid.engine.compact_share", "ratio"),
    ("grid.engine.insert_rows_per_day", "count"),
    ("grid.engine.bytes_written_per_row", "bytes"),
    ("grid.serving_table.refresh_share", "ratio"),
    ("grid.serving_table.snap_share", "ratio"),
    ("grid.serving_table.slice_calls_per_req", "count"),
    ("grid.serving_table.files_read_per_req", "count"),
    ("grid.serving.get_variables_share", "ratio"),
    ("grid.serving.jobs_per_req", "count"),
    ("grid.serving.fallback_frac", "ratio"),
    ("http.overhead_share", "ratio"),
    ("operators.ingest_job.run_batch_share", "ratio"),
    ("operators.ingest_job.jobs_per_batch", "count"),
    ("operators.ingest_job.kept_frac", "ratio"),
    ("operators.curation.curate_share", "ratio"),
    ("operators.lsh_store.dedup_batch_share", "ratio"),
    ("operators.lsh_store.append_share", "ratio"),
    ("functions.bm25.append_share", "ratio"),
    ("functions.ivf_store.append_share", "ratio"),
]
# per-layer share metric -> span names whose self time it sums, as a share
# of the write ops' time, or of the reads' time for READ_SHARES
SHARES = {
    "grid.jobs.land_share": ["grid.jobs:DailyJob.ingest"],
    "grid.jobs.run_partition_share": ["grid.jobs:DailyJob.run_partition"],
    "grid.catalog.insert_raw_file_share": ["grid.catalog:Catalog.insert_raw_file"],
    "grid.catalog.upsert_share": ["grid.catalog:Catalog.upsert_curated_data"],
    "grid.pipeline.transform_share": [
        "grid.pipeline:TransformPipeline.transform_cams",
        "grid.pipeline:TransformPipeline.transform_ecmwf",
    ],
    "grid.engine.insert_share": ["grid.engine:GridEngine.insert_grid"],
    "grid.engine.compact_share": ["grid.engine:GridEngine.compact"],
    "grid.serving_table.refresh_share": ["grid.serving_table:ServingTable.refresh_dates"],
    "grid.serving_table.snap_share": ["grid.serving_table:ServingTable.snap"],
    "grid.serving.get_variables_share": ["grid.serving:EnvironmentalService.get_variables"],
    "operators.ingest_job.run_batch_share": ["operators.ingest_job:CorpusIngestJob.run_batch"],
    "operators.curation.curate_share": ["operators.curation:curate_corpus"],
    "operators.lsh_store.dedup_batch_share": ["operators.lsh_store:LshIndex.dedup_batch"],
    "operators.lsh_store.append_share": ["operators.lsh_store:LshIndex.append"],
    "functions.bm25.append_share": ["functions.bm25:Bm25Index.append"],
    "functions.ivf_store.append_share": ["functions.ivf_store:IvfIndex.append"],
}
READ_SHARES = {"grid.serving_table.snap_share", "grid.serving.get_variables_share"}
HANDLER = "_http:handle_environmental"
WORKLOAD_NAMES = ("paper_path", "corpus_batches")


def _sum(rows: dict, names: list[str], key: str) -> float:
    return sum(rows[n][key] for n in names if n in rows)


def layer_metrics(out, spans, jobs, windows, canary, span_cost_ms: float):
    """The PER_LAYER metrics of a traced run, and the per-span table. Only
    jobs submitted inside the measured windows count."""
    import layers as TR

    def within(phase: str) -> dict:
        lo, hi = windows.get(phase, (0.0, -1.0))
        return {k: j for k, j in jobs.items() if lo <= j["submitted"] <= hi}

    wjobs, rjobs = within("write"), within("read")
    jobs = {**wjobs, **rjobs}
    rows = TR.layer_table(spans, jobs)
    n_writes = max(len(out.write_ms), 1)
    w_sum = max(sum(out.write_ms), 1e-9)
    r_sum = max(sum(out.read_ms), 1e-9)
    wt = {k: sum(j[k] for j in wjobs.values()) for k in TR.JOB_KEYS}
    calls = lambda n: rows[n]["calls"] if n in rows else 0  # noqa: E731
    m: dict[str, float] = {k: 0.0 for k, _ in PER_LAYER}
    m["bench.canary_ms"] = (canary[0] + canary[1]) / 2
    m["bench.canary_drift_frac"] = (canary[1] - canary[0]) / canary[0]
    # wrapper cost only: every span's measured cost, against the ops' time
    m["bench.trace_overhead_frac"] = len(spans) * span_cost_ms / (sum(out.write_ms) + sum(out.read_ms))
    m["spark.jobs_per_write"] = wt["jobs"] / n_writes
    m["spark.tasks_per_write"] = wt["tasks"] / n_writes
    m["spark.executor_run_ms_per_write"] = wt["run_ms"] / n_writes
    m["spark.executor_cpu_ms_per_write"] = wt["cpu_ms"] / n_writes
    m["spark.python_worker_share"] = wt["python_ms"] / max(wt["run_ms"], 1e-9)
    m["spark.input_bytes_per_write"] = wt["input_bytes"] / n_writes
    m["spark.shuffle_write_bytes_per_write"] = wt["shuffle_write_bytes"] / n_writes
    m["spark.output_bytes_per_write"] = wt["output_bytes"] / n_writes
    m["spark.tasks_per_read"] = sum(j["tasks"] for j in rjobs.values()) / max(len(out.read_ms), 1)
    m["spark.spill_bytes"] = sum(j["spill_bytes"] for j in jobs.values())
    m["spark.unattributed_jobs"] = rows.get("(unattributed)", {}).get("jobs", 0.0)
    for name, span_names in SHARES.items():
        m[name] = _sum(rows, span_names, "self_ms") / (r_sum if name in READ_SHARES else w_sum)

    c = out.counters
    if c.get("parse_s"):  # the day's files through parse_grib2, driver side, in set-up
        m["sources.decode_mpts_per_s"] = c["points"] / 1e6 / c["parse_s"]
    run_part = TR.subtree_jobs(spans, jobs, {"grid.jobs:DailyJob.run_partition"})
    if c.get("raw_bytes"):
        m["sources.scan_bytes_per_raw_byte"] = run_part["binary_scan_bytes"] / c["raw_bytes"]
        m["sources.python_worker_share"] = run_part["python_ms"] / w_sum
    cat = ["grid.catalog:Catalog.insert_raw_file", "grid.catalog:Catalog.upsert_curated_data"]
    if sum(calls(n) for n in cat):
        m["grid.catalog.rows_rewritten_per_call"] = _sum(rows, cat, "output_rows") / sum(calls(n) for n in cat)
    days = calls("grid.jobs:DailyJob.run_partition")
    if days:
        transform = TR.subtree_jobs(spans, jobs, set(SHARES["grid.pipeline.transform_share"]))
        m["grid.pipeline.jobs_per_day"] = transform["jobs"] / days
        ins = "grid.engine:GridEngine.insert_grid"
        m["grid.engine.insert_rows_per_day"] = _sum(rows, [ins], "output_rows") / days
        written = _sum(rows, [ins, "grid.engine:GridEngine.compact"], "output_bytes")
        m["grid.engine.bytes_written_per_row"] = written / max(_sum(rows, [ins], "output_rows"), 1)
    reqs = calls(HANDLER)
    if reqs:
        served = TR.subtree_jobs(spans, jobs, {HANDLER})
        m["grid.serving_table.slice_calls_per_req"] = calls("grid.serving_table:ServingTable.slice") / reqs
        m["grid.serving_table.files_read_per_req"] = served["files_read"] / reqs
        m["grid.serving.jobs_per_req"] = served["jobs"] / reqs
        m["grid.serving.fallback_frac"] = calls("grid.serving:EnvironmentalService.query_plan") / reqs
        m["http.overhead_share"] = 1.0 - rows[HANDLER]["total_ms"] / r_sum
    batches = calls("operators.ingest_job:CorpusIngestJob.run_batch")
    if batches:
        sub = TR.subtree_jobs(spans, jobs, {"operators.ingest_job:CorpusIngestJob.run_batch"})
        m["operators.ingest_job.jobs_per_batch"] = sub["jobs"] / batches
        m["operators.ingest_job.kept_frac"] = c["kept"] / max(c["curated"], 1)
    return m, rows


def run_one(a) -> int:
    os.environ["TZ"] = "UTC"
    time.tzset()
    if not os.path.isdir(os.path.join(ROOT, "jackfruit_spark")):
        print(f"perfbench: program package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness as H
    import workloads as W

    wd = H.work_dir(ROOT, a.workload, a.seed)
    H.pin_temp(wd)
    canary0 = H.canary_ms()
    mem = H.MemSampler().start()
    ev_dir = os.path.join(wd, "eventlog") if a.trace else None
    spark = H.make_spark(wd, event_log_dir=ev_dir)
    tracer = None
    if a.trace:
        import layers as TR

        tracer = TR.Tracer(spark)
    ctx = W.Ctx(spark, wd, a.seed, float(a.seconds), tracer, mem)
    try:
        out = W.WORKLOADS[a.workload](ctx)
        span_cost_ms = tracer.probe_cost_ms() if tracer else 0.0
    finally:
        H.stop_spark(spark)
        peak_mb = mem.stop()
    canary1 = H.canary_ms()

    correct = out.failed == 0 and out.attempted > 0
    # the closed-loop ops: the reads where there are any, else the writes
    if out.read_ms:
        ops, good, ops_s = out.read_ms, out.good_reads, out.read_s
    else:
        ops, good, ops_s = out.write_ms, out.good_writes, sum(out.write_ms) / 1000.0
    e2e = {
        "setup_s": out.setup_s,
        "peak_pss_mb": peak_mb,
        "write_op_ms": statistics.median(out.write_ms),
        "op_p50_ms": statistics.median(ops),
        "ok_ops_per_s": good / ops_s,
    }
    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  trace {a.trace}")
    print(f"  attempted {out.attempted}  failed {out.failed}  fail_frac "
          f"{out.failed / max(out.attempted, 1):.4f}  correct {correct}")
    for k, unit in END_TO_END:
        print(f"  {k:<24} {e2e[k]:>12.4f} {unit}")
    for k, v in out.report.items():
        print(f"  {k:<24} {v:>12.4f}")
    print(f"  canary start / end (ms)  {canary0:.3f} / {canary1:.3f}")
    if a.trace:
        import layers as TR

        logs = glob.glob(os.path.join(ev_dir, "*"))
        jobs = TR.read_event_log(logs[0])
        keep = os.path.join(ROOT, ".perfbench_out", f"{a.workload}-seed{a.seed}")
        os.makedirs(keep, exist_ok=True)
        shutil.copy(logs[0], os.path.join(keep, "eventlog.json"))
        tracer.dump(os.path.join(keep, "spans.json"))
        metrics, rows = layer_metrics(out, tracer.spans, jobs, ctx.windows, (canary0, canary1),
                                      span_cost_ms)
        with open(os.path.join(keep, "windows.json"), "w") as f:
            json.dump(ctx.windows, f)
        print(f"per-layer table (measured windows; event log and spans in {keep}):")
        print(TR.format_table(rows))
        for k, unit in PER_LAYER:
            print(f"  {k:<40} {metrics[k]:>14.6g} {unit}")
        units = dict(PER_LAYER)
    else:
        metrics, units = e2e, dict(END_TO_END)
    shutil.rmtree(wd, ignore_errors=True)
    print(json.dumps({
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


def run_all(a) -> int:
    """Every workload in turn, each in its own process; exits non-zero if
    any of them does."""
    worst = 0
    for w in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", w, "--seed", str(a.seed),
               "--seconds", str(a.seconds), "--trace", str(a.trace)]
        r = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        sys.stdout.write("\n".join(r.stdout.splitlines()[:-1]) + "\n")
        worst = max(worst, r.returncode)
    return worst


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES + ("all",))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    return run_all(a) if a.workload == "all" else run_one(a)


if __name__ == "__main__":
    sys.exit(main())
