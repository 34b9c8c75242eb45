"""Loopback site server for the fetch-crawl workload.

Run as its own process:

    python3 perfbench/site_server.py --site site.json --log requests.jsonl

``site.json`` maps absolute URLs under ``PLACEHOLDER`` to bodies. The
server binds an ephemeral 127.0.0.1 port, rewrites every URL and body
from the placeholder root to its own root, prints that root as one line
on stdout, and serves until it receives SIGTERM.

Each response waits ``LATENCY_S`` seconds in ``time.sleep`` first, so
the injected latency costs no CPU. Every request appends one JSON line
to ``--log``: path, arrival and finish (``time.time()``), status and
body bytes.
"""

from __future__ import annotations

import argparse
import json
import signal
import sys
import threading
import time
from collections import Counter
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

PLACEHOLDER = "http://site.bench.test"
LATENCY_S = 0.02


def rewrite(site: dict[str, str], root: str) -> dict[str, str]:
    """Site URLs and bodies moved from PLACEHOLDER to ``root``."""
    return {
        url.replace(PLACEHOLDER, root, 1): body.replace(PLACEHOLDER, root)
        for url, body in site.items()
    }


def url_path(url: str, root: str) -> str:
    """Request path the server sees for ``url``: HTTP sends the empty
    path as '/'."""
    return url[len(root):] or "/"


class _Handler(BaseHTTPRequestHandler):
    paths: dict[str, bytes] = {}
    log = None
    lock = threading.Lock()

    def log_message(self, *a):  # no per-request stderr
        pass

    def do_GET(self):  # noqa: N802 (http.server API)
        arrival = time.time()
        time.sleep(LATENCY_S)
        body = self.paths.get(self.path)
        if body is None:
            status, body = 404, b""
            self.send_response(status)
        else:
            status = 200
            # robots.txt as text/plain, everything else (scripts and
            # the sitemap included) as text/html, so every page of the
            # site passes the fetch stage's content-type gate
            ctype = "text/plain" if self.path.endswith("robots.txt") else "text/html"
            self.send_response(status)
            self.send_header("Content-Type", f"{ctype}; charset=utf-8")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)
        self.wfile.flush()
        record = {
            "path": self.path,
            "arrival": arrival,
            "finish": time.time(),
            "status": status,
            "bytes": len(body),
        }
        with self.lock:
            self.log.write(json.dumps(record) + "\n")
            self.log.flush()


def server_metrics(reqs: list[dict]) -> dict[str, float]:
    """The five ``fetch_http.*`` metrics from one iteration's log
    records."""
    if not reqs:
        return {"requests": 0, "inflight_mean": 0.0, "inflight_max": 0,
                "server_s": 0.0, "dup_requests": 0}
    events = sorted(
        [(r["arrival"], 1) for r in reqs] + [(r["finish"], -1) for r in reqs]
    )
    inflight = peak = 0
    busy = 0.0
    last = events[0][0]
    for t, d in events:
        if inflight:
            busy += t - last
        inflight += d
        peak = max(peak, inflight)
        last = t
    service = sum(r["finish"] - r["arrival"] for r in reqs)
    paths = Counter(r["path"] for r in reqs)
    return {
        "requests": len(reqs),
        "inflight_mean": service / busy if busy else 0.0,
        "inflight_max": peak,
        "server_s": busy,
        "dup_requests": sum(n - 1 for n in paths.values()),
    }


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--site", required=True)
    p.add_argument("--log", required=True)
    args = p.parse_args(argv)

    with open(args.site, encoding="utf-8") as f:
        site = json.load(f)
    server = ThreadingHTTPServer(("127.0.0.1", 0), _Handler)
    server.daemon_threads = True
    root = f"http://127.0.0.1:{server.server_address[1]}"
    _Handler.paths = {
        url_path(url, root): body.encode("utf-8")
        for url, body in rewrite(site, root).items()
    }
    _Handler.log = open(args.log, "a", encoding="utf-8")

    def stop(*_):
        threading.Thread(target=server.shutdown, daemon=True).start()

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    print(root, flush=True)
    try:
        server.serve_forever(poll_interval=0.2)
    finally:
        server.server_close()
        _Handler.log.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
