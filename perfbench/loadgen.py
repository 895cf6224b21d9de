"""Open-loop HTTP client of the live-dashboard workload.

Run as its own process so client work never competes with the server for
the serving process's interpreter lock:

    python3 perfbench/loadgen.py --port P --seed S --start EPOCH_S \
        --seconds W --items N --out FILE

One thread per request kind sends on a fixed schedule (``/recommend`` 10/s,
``/counts`` 2/s, ``/submit`` 5/s) whether or not earlier requests have
finished.  Each request is timed from the moment it was due, so a stall also
charges the wait it imposes on the requests queued behind it, and the
lateness of each send (sent minus due) is recorded.  All times are epoch
seconds so the worker can line them up with its own spans.
"""

from __future__ import annotations

import argparse
import http.client
import json
import threading
import time
from collections.abc import Callable

import payloads

RATES = {"recommend": 10.0, "counts": 2.0, "submit": 5.0}


def schedule(rate: float, seconds: float, start: float) -> list[float]:
    """Due times of a fixed-rate stream over ``[start, start + seconds)``."""
    return [start + i / rate for i in range(int(rate * seconds))]


def open_loop(
    due_times: list[float],
    send: Callable[[int], tuple[int, bytes]],
    clock: Callable[[], float] = time.time,
    sleep: Callable[[float], None] = time.sleep,
) -> list[dict]:
    """Send request ``i`` at ``due_times[i]`` (or as soon as the previous send
    returns, if that is later).  ``latency_s`` runs from due to done; a send
    that raises is recorded with status 0."""
    out = []
    for i, due in enumerate(due_times):
        wait = due - clock()
        if wait > 0:
            sleep(wait)
        sent = clock()
        try:
            status, body = send(i)
        except OSError as e:
            status, body = 0, repr(e).encode()
        done = clock()
        out.append({
            "i": i, "due": due, "sent": sent, "done": done, "status": status,
            "late_s": sent - due, "latency_s": done - due,
            "body": body.decode(errors="replace"),
        })
    return out


def _http(port: int, method: str, path: str, body: dict | None) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=30)
    try:
        data = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json"} if data else {}
        conn.request(method, path, body=data, headers=headers)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def senders(port: int, seed: int, items: int) -> dict[str, Callable[[int], tuple[int, bytes]]]:
    def recommend(i: int):
        ratings = payloads.recommend_ratings(i, seed, items)
        body = {"ratings": [{"filmId": f, "rating": r} for f, r in ratings]}
        return _http(port, "POST", "/recommend", body)

    return {
        "recommend": recommend,
        "counts": lambda i: _http(port, "GET", "/counts", None),
        "submit": lambda i: _http(port, "POST", "/submit", payloads.submit_payload(i, seed)),
    }


def run(port: int, seed: int, start: float, seconds: float, items: int) -> dict[str, list[dict]]:
    results: dict[str, list[dict]] = {}
    send = senders(port, seed, items)

    def worker(kind: str) -> None:
        results[kind] = open_loop(schedule(RATES[kind], seconds, start), send[kind])

    threads = [threading.Thread(target=worker, args=(k,)) for k in RATES]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return results


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--port", type=int, required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--start", type=float, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--items", type=int, required=True)
    p.add_argument("--out", required=True)
    a = p.parse_args()
    res = run(a.port, a.seed, a.start, a.seconds, a.items)
    with open(a.out, "w") as f:
        json.dump(res, f)


if __name__ == "__main__":
    main()
