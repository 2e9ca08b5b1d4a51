"""Open-loop HTTP load generator for the live-ingest phase.

Requests first .. first+count-1 of the plan are sent; request i is due at
t0 + (i - first) / rate (CLOCK_MONOTONIC ns, the clock
the JVM's System.nanoTime reads). Worker threads take the next request, wait
until it is due and POST it; a slow reply delays only that thread, so later
requests are timed from their own due time. One JSON line per request goes
to stdout: [i, due_ns, sent_ns, acked_ns, status].

Usage: loadgen.py --port P --dir D --rate R --t0-ns T --first I --count N --threads K
"""
import argparse
import http.client
import itertools
import json
import sys
import threading
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--port", type=int, required=True)
    ap.add_argument("--dir", required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--t0-ns", type=int, required=True)
    ap.add_argument("--first", type=int, required=True)
    ap.add_argument("--count", type=int, required=True)
    ap.add_argument("--threads", type=int, required=True)
    a = ap.parse_args()

    with open(f"{a.dir}/plan.jsonl") as f:
        plan = [json.loads(line) for line in f]
    with open(f"{a.dir}/tokens.json") as f:
        tokens = json.load(f)["tokens"]
    end = min(len(plan), a.first + a.count)
    counter = itertools.count(a.first)
    lock = threading.Lock()
    log = []

    def worker():
        conn = http.client.HTTPConnection("127.0.0.1", a.port, timeout=30)
        while True:
            with lock:
                i = next(counter)
            if i >= end:
                break
            due = a.t0_ns + int((i - a.first) * 1e9 / a.rate)
            wait = (due - time.monotonic_ns()) / 1e9
            if wait > 0:
                time.sleep(wait)
            req = plan[i]
            sent = time.monotonic_ns()
            try:
                conn.request("POST", "/data", body=req["body"].encode(),
                             headers={"Authorization": "Bearer " + tokens[req["t"]],
                                      "Content-Type": "application/json"})
                resp = conn.getresponse()
                resp.read()
                status = resp.status
            except (OSError, http.client.HTTPException):
                status = -1
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", a.port, timeout=30)
            acked = time.monotonic_ns()
            with lock:
                log.append((i, due, sent, acked, status))
        conn.close()

    threads = [threading.Thread(target=worker) for _ in range(a.threads)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    out = sys.stdout
    for rec in sorted(log):
        out.write(json.dumps(rec) + "\n")
    out.flush()


if __name__ == "__main__":
    main()
