#!/usr/bin/env python3
"""Open-loop load generator for ``POST /predict`` and ``GET /explain``.

Runs as its own process so that its timing does not share the server's
interpreter lock. Reads a schedule (a JSON list of ``{"due_s", "body"}``,
due times relative to the start), sends each request when it is due on
one of ``--connections - 1`` sender threads, and times it from its due
time, so a stalled server also charges the wait it imposes on later
requests. One more thread follows the explanation queue: it polls
``GET /explain/<id>`` for the oldest answered request whose explanation
has not been seen yet, and records when each one completes, until every
explanation is in or ``--drain-s`` seconds after the last send.

Writes one JSON document to ``--out``: per request its due, send and
finish times, HTTP status and body; per completed explanation its time
and body; and sent/ok/failed counts.
"""

from __future__ import annotations

import argparse
import http.client
import json
import threading
import time

POLL_S = 0.05  # explanation-queue poll interval; explanations take ~0.4 s


def call(port: int, method: str, path: str, body: dict | None = None) -> tuple[int, dict | None]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        data = json.dumps(body).encode() if body is not None else None
        headers = {"Content-Type": "application/json"} if data else {}
        conn.request(method, path, body=data, headers=headers)
        resp = conn.getresponse()
        raw = resp.read()
        try:
            return resp.status, json.loads(raw)
        except ValueError:
            return resp.status, None
    finally:
        conn.close()


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--port", type=int, required=True)
    p.add_argument("--schedule", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--connections", type=int, required=True)
    p.add_argument("--drain-s", type=float, required=True)
    args = p.parse_args()

    with open(args.schedule) as f:
        schedule = json.load(f)
    n = len(schedule)
    results: list[dict | None] = [None] * n
    explained: list[dict] = []
    next_idx = iter(range(n))
    idx_lock = threading.Lock()
    start = time.perf_counter() + 0.2

    def sender() -> None:
        while True:
            with idx_lock:
                i = next(next_idx, None)
            if i is None:
                return
            due = start + schedule[i]["due_s"]
            delay = due - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            sent = time.perf_counter()
            try:
                status, body = call(args.port, "POST", "/predict", schedule[i]["body"])
            except OSError as ex:
                status, body = 0, {"error": str(ex)}
            done = time.perf_counter()
            results[i] = {"due": due - start, "sent": sent - start, "done": done - start,
                          "status": status, "body": body}

    def follower(senders: list[threading.Thread]) -> None:
        k = 0
        deadline = None
        while k < n:
            now = time.perf_counter()
            if deadline is None and not any(t.is_alive() for t in senders):
                deadline = now + args.drain_s
            if deadline is not None and now > deadline:
                break
            res = results[k]
            if res is None or res["status"] != 200:
                if res is not None:
                    k += 1  # no explanation was queued for a failed predict
                else:
                    time.sleep(POLL_S)
                continue
            try:
                status, body = call(args.port, "GET", f"/explain/{res['body']['transaction_id']}")
            except OSError:
                status, body = 0, None
            if status == 200:
                explained.append({"index": k, "t": time.perf_counter() - start, "body": body})
                k += 1
            else:
                time.sleep(POLL_S)

    senders = [threading.Thread(target=sender) for _ in range(max(1, args.connections - 1))]
    for t in senders:
        t.start()
    poll = threading.Thread(target=follower, args=(senders,))
    poll.start()
    for t in senders:
        t.join()
    poll.join()

    ok = sum(1 for r in results if r is not None and r["status"] == 200)
    with open(args.out, "w") as f:
        json.dump({"requests": results, "explained": explained,
                   "sent": sum(r is not None for r in results), "ok": ok,
                   "failed": sum(r is not None and r["status"] != 200 for r in results)}, f)


if __name__ == "__main__":
    main()
