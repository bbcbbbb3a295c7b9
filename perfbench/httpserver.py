"""Loopback HTTP server for the polite web.

Run as ``python -m perfbench.httpserver --web polite|warmup --seed N``
from the repository root. It binds 127.0.0.1 on a free port, prints
``PORT <n>`` on its first output line and serves until terminated.

Pages are routed by the Host header and only generated pages are
served. Each request sleeps a delay derived from its URL; about 1 page
in 37 answers 404 and another 1 in 37 answers 429 to its first request
and 200 afterwards. At most ``--threads`` requests are handled at once.

Control paths on host ``control``: ``/counts`` returns the request
count per URL as JSON, ``/reset`` clears the counts.
"""

from __future__ import annotations

import argparse
import json
import socketserver
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

from perfbench import webgen

WEBS = {"polite": webgen.POLITE, "warmup": webgen.WARMUP}


class BoundedServer(socketserver.ThreadingMixIn, HTTPServer):
    """Handles each connection on a fixed pool of threads."""

    daemon_threads = True

    def __init__(self, addr, handler, threads: int, web, seed: int):
        super().__init__(addr, handler)
        self.pool = ThreadPoolExecutor(max_workers=threads)
        self.web = web
        self.seed = seed
        self.lock = threading.Lock()
        self.counts: Counter[str] = Counter()

    def process_request(self, request, client_address):
        self.pool.submit(self.process_request_thread, request, client_address)


class Handler(BaseHTTPRequestHandler):
    server: BoundedServer

    def log_message(self, format, *args):  # noqa: A002 - stdlib signature
        pass

    def _send(self, status: int, body: str, ctype: str = webgen.HTML_CT):
        data = body.encode()
        self.send_response(status)
        self.send_header("Content-Type", ctype)
        self.send_header("Content-Length", str(len(data)))
        self.end_headers()
        self.wfile.write(data)

    def do_GET(self):  # noqa: N802 - stdlib name
        srv = self.server
        host = (self.headers.get("Host") or "").split(":")[0]
        path = self.path.split("?", 1)[0]
        if host == "control":
            with srv.lock:
                body = json.dumps(dict(srv.counts))
                if path == "/reset":
                    srv.counts.clear()
            self._send(200, body, "application/json")
            return
        url = f"https://{host}{path}"
        with srv.lock:
            srv.counts[url] += 1
            n = srv.counts[url]
        time.sleep(webgen.request_delay_ms(host, path) / 1000)
        html = webgen.serve_page(srv.web, srv.seed, host, path)
        status = webgen.polite_status(host, path)
        if html is None or status == "404":
            self._send(404, "<html><body>not found</body></html>")
        elif status == "429" and n == 1:
            self._send(429, "<html><body>slow down</body></html>")
        else:
            self._send(200, html)


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--web", choices=sorted(WEBS), required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--threads", type=int, required=True)
    args = ap.parse_args(argv)
    srv = BoundedServer(("127.0.0.1", 0), Handler, args.threads,
                        WEBS[args.web], args.seed)
    print(f"PORT {srv.server_address[1]}", flush=True)
    try:
        srv.serve_forever()
    finally:
        srv.pool.shutdown(wait=False)
        srv.server_close()


if __name__ == "__main__":
    main()
