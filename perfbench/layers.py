"""Spans around the program's public calls, and the per-layer table built
from them plus Spark's event log.

``Tracer.install`` wraps each layer's public functions (``LAYERS``) in a
span. A span records its name, start, end, thread and parent, and tags
every Spark job started inside it with the local property
``perfbench.span`` (and a job description naming the call), so the event
log attributes jobs to the innermost open span. Nothing in the program
changes; the wrappers are removed by ``uninstall``.

``layer_table`` joins the spans with the event log: per span name, calls,
total and self time, jobs, tasks, executor run and CPU time, Python-worker
time, and input / shuffle / output / spill bytes. Jobs no span covers get
their own row.

    python3 perfbench/layers.py EVENT_LOG SPANS.json WINDOWS.json

prints the table of the jobs submitted in the run's measured windows
(WINDOWS.json: phase -> [start, end], epoch ms); set-up jobs are left out.
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import asdict, dataclass

SPAN_PROP = "perfbench.span"
PROBE_SPANS = 200  # empty spans timed by ``probe_cost_ms``

# layer -> [(module, owner attribute or "" for a module function, function)]
LAYERS: dict[str, list[tuple[str, str, str]]] = {
    "sources": [
        ("jackfruit_spark.sources.grib2_meta", "", "parse_grib2"),
        ("jackfruit_spark.sources.grib", "", "scan_grib"),
    ],
    "grid.jobs": [
        ("jackfruit_spark.grid.jobs", "DailyJob", "ingest"),
        ("jackfruit_spark.grid.jobs", "DailyJob", "run_partition"),
    ],
    "grid.catalog": [
        ("jackfruit_spark.grid.catalog", "Catalog", "insert_raw_file"),
        ("jackfruit_spark.grid.catalog", "Catalog", "upsert_curated_data"),
    ],
    "grid.pipeline": [
        ("jackfruit_spark.grid.pipeline", "TransformPipeline", "transform_cams"),
        ("jackfruit_spark.grid.pipeline", "TransformPipeline", "transform_ecmwf"),
    ],
    "grid.engine": [
        ("jackfruit_spark.grid.engine", "GridEngine", "insert_grid"),
        ("jackfruit_spark.grid.engine", "GridEngine", "compact"),
    ],
    "grid.serving_table": [
        ("jackfruit_spark.grid.serving_table", "ServingTable", "build"),
        ("jackfruit_spark.grid.serving_table", "ServingTable", "refresh_dates"),
        ("jackfruit_spark.grid.serving_table", "ServingTable", "snap"),
        ("jackfruit_spark.grid.serving_table", "ServingTable", "slice"),
    ],
    "grid.serving": [
        ("jackfruit_spark.grid.serving", "EnvironmentalService", "get_variables"),
        ("jackfruit_spark.grid.serving", "EnvironmentalService", "query_plan"),
    ],
    # the listener resolves handle_environmental through its own module
    "_http": [("jackfruit_spark.grid.http_server", "", "handle_environmental")],
    "operators.ingest_job": [
        ("jackfruit_spark.operators.ingest_job", "CorpusIngestJob", "run_batch"),
    ],
    "operators.curation": [("jackfruit_spark.operators.curation", "", "curate_corpus")],
    "operators.lsh_store": [
        ("jackfruit_spark.operators.lsh_store", "LshIndex", "dedup_batch"),
        ("jackfruit_spark.operators.lsh_store", "LshIndex", "append"),
        ("jackfruit_spark.operators.lsh_store", "LshIndex", "build"),
    ],
    "functions.bm25": [
        ("jackfruit_spark.functions.bm25", "Bm25Index", "append"),
        ("jackfruit_spark.functions.bm25", "Bm25Index", "build"),
    ],
    "functions.ivf_store": [
        ("jackfruit_spark.functions.ivf_store", "IvfIndex", "append"),
        ("jackfruit_spark.functions.ivf_store", "IvfIndex", "build"),
    ],
}


@dataclass
class Span:
    id: int
    parent: int | None
    name: str  # "<layer>:<function>"
    thread: int
    start: float
    end: float = 0.0


class Tracer:
    """In-memory span recorder. Spans opened on a thread with no open span
    of its own (pool threads, HTTP handler threads) take the main thread's
    innermost open span as parent."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._next = 0
        self._tls = threading.local()
        self._main_stack: list[Span] = []
        self._main = threading.main_thread().ident
        self._installed: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        if threading.get_ident() == self._main:
            return self._main_stack
        if not hasattr(self._tls, "stack"):
            self._tls.stack = []
        return self._tls.stack

    @contextmanager
    def span(self, name: str):
        stack = self._stack()
        parent = stack[-1] if stack else (self._main_stack[-1] if self._main_stack else None)
        with self._lock:
            self._next += 1
            sid = self._next
        s = Span(sid, parent.id if parent else None, name, threading.get_ident(),
                 time.perf_counter())
        old_span = self.sc.getLocalProperty(SPAN_PROP)
        old_desc = self.sc.getLocalProperty("spark.job.description")
        self.sc.setLocalProperty(SPAN_PROP, str(sid))
        self.sc.setLocalProperty("spark.job.description", name)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.sc.setLocalProperty(SPAN_PROP, old_span)
            self.sc.setLocalProperty("spark.job.description", old_desc)
            with self._lock:
                self.spans.append(s)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return traced

    def install(self) -> None:
        for layer, targets in LAYERS.items():
            for mod_name, owner_name, fn_name in targets:
                mod = importlib.import_module(mod_name)
                owner = getattr(mod, owner_name) if owner_name else mod
                raw = inspect.getattr_static(owner, fn_name)
                qual = f"{owner_name}.{fn_name}" if owner_name else fn_name
                wrapped = self._wrap(getattr(owner, fn_name), f"{layer}:{qual}")
                if isinstance(raw, staticmethod):
                    wrapped = staticmethod(wrapped)
                setattr(owner, fn_name, wrapped)
                self._installed.append((owner, fn_name, raw))

    def uninstall(self) -> None:
        for owner, fn_name, raw in reversed(self._installed):
            setattr(owner, fn_name, raw)
        self._installed.clear()

    def probe_cost_ms(self) -> float:
        """Mean cost of one empty span (the wrapper's own overhead),
        measured here; the probe spans are discarded."""
        keep = len(self.spans)
        t0 = time.perf_counter()
        for _ in range(PROBE_SPANS):
            with self.span("bench:probe"):
                pass
        cost = (time.perf_counter() - t0) * 1000.0 / PROBE_SPANS
        del self.spans[keep:]
        return cost

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([asdict(s) for s in self.spans], f)


# ------------------------------------------------------------ event log

JOB_KEYS = (
    "jobs", "tasks", "run_ms", "cpu_ms", "python_ms", "input_bytes",
    "shuffle_write_bytes", "output_bytes", "spill_bytes",
    "output_rows", "binary_scan_bytes", "files_read",
)


def _walk_plan(node: dict, out: dict[int, tuple[str, str]]) -> None:
    """accumulator id -> (scan kind, metric name) for file-scan nodes."""
    name = node.get("nodeName", "")
    kind = "binaryFile" if "binaryFile" in name else ("file" if name.startswith("Scan") else "")
    if kind:
        for m in node.get("metrics", []):
            out[m["accumulatorId"]] = (kind, m["name"])
    for c in node.get("children", []):
        _walk_plan(c, out)


def read_event_log(path: str) -> dict:
    """Per-job totals from an uncompressed event log: {job_id: {"span":
    id or None, "exec": sql execution id or None, **JOB_KEYS}}."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    exec_jobs: dict[int, list[int]] = defaultdict(list)
    scan_acc: dict[int, tuple[str, str]] = {}
    exec_scan: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    with open(path) as f:
        for line in f:
            e = json.loads(line)
            ev = e["Event"]
            if ev == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                span = props.get(SPAN_PROP)
                ex = props.get("spark.sql.execution.id")
                j = {k: 0.0 for k in JOB_KEYS}
                j.update(jobs=1, span=int(span) if span else None,
                         exec=int(ex) if ex is not None else None,
                         submitted=float(e.get("Submission Time", 0)))
                jobs[e["Job ID"]] = j
                for sid in e["Stage IDs"]:
                    stage_job.setdefault(sid, e["Job ID"])
                if j["exec"] is not None:
                    exec_jobs[j["exec"]].append(e["Job ID"])
            elif ev == "SparkListenerTaskEnd":
                jid = stage_job.get(e["Stage ID"])
                tm = e.get("Task Metrics")
                if jid is None or not tm:
                    continue
                j = jobs[jid]
                j["tasks"] += 1
                j["run_ms"] += tm.get("Executor Run Time", 0)
                j["cpu_ms"] += tm.get("Executor CPU Time", 0) / 1e6
                j["input_bytes"] += tm.get("Input Metrics", {}).get("Bytes Read", 0)
                j["output_bytes"] += tm.get("Output Metrics", {}).get("Bytes Written", 0)
                j["output_rows"] += tm.get("Output Metrics", {}).get("Records Written", 0)
                j["shuffle_write_bytes"] += tm.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                j["spill_bytes"] += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                for acc in e.get("Task Info", {}).get("Accumulables", []):
                    if acc.get("Name") == "time to run Python workers":
                        j["python_ms"] += float(acc.get("Update") or 0)
            elif ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
                _walk_plan(e.get("sparkPlanInfo") or {}, scan_acc)
            elif ev.endswith("SparkListenerDriverAccumUpdates"):
                for acc_id, val in e.get("accumUpdates", []):
                    hit = scan_acc.get(acc_id)
                    if hit:
                        exec_scan[e["executionId"]][hit[0] + ":" + hit[1]] += float(val)
    # driver-side scan metrics belong to the execution; book them on its
    # first job
    for ex, metrics in exec_scan.items():
        if exec_jobs.get(ex):
            j = jobs[exec_jobs[ex][0]]
            j["binary_scan_bytes"] += metrics.get("binaryFile:size of files read", 0.0)
            j["files_read"] += metrics.get("file:number of files read", 0.0) + metrics.get(
                "binaryFile:number of files read", 0.0
            )
    return jobs


# ---------------------------------------------------------------- table


def _self_ms(span: Span, children: list[Span]) -> float:
    """Duration minus the part of it covered by its children."""
    ivs = sorted((max(c.start, span.start), min(c.end, span.end)) for c in children)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in ivs:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span.end - span.start - covered) * 1000.0


def layer_table(spans: list[Span], jobs: dict) -> dict[str, dict]:
    """Rows keyed by span name (plus "(unattributed)"): calls, total_ms,
    self_ms and the summed job metrics of the jobs tagged with that span."""
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    by_id = {s.id: s for s in spans}
    rows: dict[str, dict] = {}

    def row(name: str) -> dict:
        if name not in rows:
            rows[name] = {"calls": 0, "total_ms": 0.0, "self_ms": 0.0, **{k: 0.0 for k in JOB_KEYS}}
        return rows[name]

    for s in spans:
        r = row(s.name)
        r["calls"] += 1
        r["total_ms"] += (s.end - s.start) * 1000.0
        r["self_ms"] += _self_ms(s, kids.get(s.id, []))
    for j in jobs.values():
        owner = by_id.get(j["span"]) if j["span"] is not None else None
        r = row(owner.name if owner else "(unattributed)")
        for k in JOB_KEYS:
            r[k] += j[k]
    return rows


def subtree_jobs(spans: list[Span], jobs: dict, root_names: set[str]) -> dict[str, float]:
    """Summed job metrics over every span under (and including) spans whose
    name is in ``root_names``."""
    kids: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s.id)
    inside: set[int] = set()
    todo = [s.id for s in spans if s.name in root_names]
    while todo:
        sid = todo.pop()
        if sid not in inside:
            inside.add(sid)
            todo.extend(kids.get(sid, []))
    out = {k: 0.0 for k in JOB_KEYS}
    for j in jobs.values():
        if j["span"] in inside:
            for k in JOB_KEYS:
                out[k] += j[k]
    return out


def format_table(rows: dict[str, dict]) -> str:
    cols = [
        ("calls", "calls", "{:.0f}"), ("total_ms", "total ms", "{:.1f}"),
        ("self_ms", "self ms", "{:.1f}"), ("jobs", "jobs", "{:.0f}"),
        ("tasks", "tasks", "{:.0f}"), ("run_ms", "exec run s", "{:.2f}"),
        ("cpu_ms", "exec cpu s", "{:.2f}"), ("python_ms", "python s", "{:.2f}"),
        ("input_bytes", "in MB", "{:.2f}"), ("shuffle_write_bytes", "shuf w MB", "{:.2f}"),
        ("output_bytes", "out MB", "{:.2f}"), ("spill_bytes", "spill MB", "{:.2f}"),
    ]
    scale = {"run_ms": 1e-3, "cpu_ms": 1e-3, "python_ms": 1e-3, "input_bytes": 1e-6,
             "shuffle_write_bytes": 1e-6, "output_bytes": 1e-6, "spill_bytes": 1e-6}
    w = max([len(n) for n in rows] + [10])
    lines = [f"{'span':<{w}} " + " ".join(f"{h:>10}" for _, h, _ in cols)]
    for name in sorted(rows):
        r = rows[name]
        lines.append(f"{name:<{w}} " + " ".join(
            f"{fmt.format(r[k] * scale.get(k, 1.0)):>10}" for k, _, fmt in cols))
    return "\n".join(lines)


def load_spans(path: str) -> list[Span]:
    with open(path) as f:
        return [Span(**d) for d in json.load(f)]


if __name__ == "__main__":
    import sys

    if len(sys.argv) != 4:
        print(__doc__, file=sys.stderr)
        sys.exit(2)
    with open(sys.argv[3]) as f:
        windows = json.load(f).values()
    all_jobs = {k: j for k, j in read_event_log(sys.argv[1]).items()
                if any(lo <= j["submitted"] <= hi for lo, hi in windows)}
    print(format_table(layer_table(load_spans(sys.argv[2]), all_jobs)))
