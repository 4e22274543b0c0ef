"""Closed-loop HTTP load generator, run as its own process.

Each client thread sends its next ``GET /v1/environmental`` only after the
previous response body has been read. Requests are taken in order from the
seeded list, cycling. Every response is checked against the oracle's
expected answer. Writes one JSON file: per request the client latency in
ms, whether it was correct, its kind and status.

    python3 loadgen.py --port P --requests reqs.json --seconds S \
        --out results.json --ready FILE --go FILE
"""

from __future__ import annotations

import argparse
import http.client
import json
import os
import sys
import threading
import time
from urllib.parse import urlencode

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402

CLIENTS = 2
WARMUP = 2  # untimed requests per request kind
TIMEOUT_S = 30.0


def send(port: int, params: dict) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=TIMEOUT_S)
    try:
        conn.request("GET", "/v1/environmental?" + urlencode(params))
        resp = conn.getresponse()
        raw = resp.read()
        try:
            body = json.loads(raw)
        except ValueError:
            body = None
        return resp.status, body
    finally:
        conn.close()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--requests", required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--ready", required=True, help="file to create once warmed up")
    ap.add_argument("--go", required=True, help="file to wait for before the timed window")
    a = ap.parse_args()
    with open(a.requests) as f:
        reqs = json.load(f)

    # untimed warm-up: the last WARMUP requests of each kind, sent by the
    # clients concurrently, so every serving path is planned once before
    # the timed window
    warm = [r for kind in sorted({r["kind"] for r in reqs})
            for r in [q for q in reqs if q["kind"] == kind][-WARMUP:]]

    def send_all(rs: list[dict]) -> None:
        for r in rs:
            send(a.port, r["params"])

    ws = [threading.Thread(target=send_all, args=(warm[i::CLIENTS],)) for i in range(CLIENTS)]
    for t in ws:
        t.start()
    for t in ws:
        t.join()
    open(a.ready, "w").close()
    give_up = time.perf_counter() + 60.0  # the parent has gone away
    while not os.path.exists(a.go):
        if time.perf_counter() > give_up:
            return 1
        time.sleep(0.005)

    lock = threading.Lock()
    nxt = [0]
    results: list[list] = []

    def client() -> None:
        while time.perf_counter() < deadline:
            with lock:
                r = reqs[nxt[0] % len(reqs)]
                nxt[0] += 1
            t0 = time.perf_counter()
            try:
                status, body = send(a.port, r["params"])
                ok = oracle.check_response(r["expect"], status, body)
            except (OSError, http.client.HTTPException):
                status, ok = 0, False
            ms = (time.perf_counter() - t0) * 1000.0
            with lock:
                results.append([ms, ok, r["kind"], status])

    t_start = time.perf_counter()
    deadline = t_start + a.seconds
    threads = [threading.Thread(target=client) for _ in range(CLIENTS)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    elapsed = time.perf_counter() - t_start
    with open(a.out, "w") as f:
        json.dump({"elapsed_s": elapsed, "results": results}, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
