"""Benchmark-owned origin server: the passive "web" a crawl fetches from.

One process, one thread (asyncio), one listening socket per origin host.
Host i listens on loopback address 127.0.0.{i+1}, so every host has its
own name for politeness and connection pooling. Every response is a
deterministic function of the request path (see `outcome`), so the
benchmark can check each fetched row against what the origin served:

  * status from md5(path) with the shares of ganda_spark/spec.py —
    200, 404, one transient 500 then 200, or a persistent 500;
  * a body that is a pure function of the path and links to two child
    pages;
  * a fixed per-response delay, which models network round-trip time.

Every response is written with one write on a socket with Nagle off.

A control listener (127.0.0.1, its own port) serves `GET /counters`:
requests, accepted connections, time-weighted and peak in-flight requests
(overall and per host), per-path hit counts and the origin's CPU share, so
a run that is bound by the origin itself is visible. `?reset_peaks=1`
restarts the peak window.

Run: python3 perfbench/origin.py --hosts 6 --delay-ms 10
It prints one JSON line {"hosts": [[addr, port], ...], "control": port}
on stdout once every socket listens, then serves until SIGTERM or stdin
closes.
"""

from __future__ import annotations

import argparse
import asyncio
import hashlib
import json
import signal
import socket
import sys
import time

# status shares: d = int(md5(path)[0:4], 16) % 100 (ganda_spark/spec.py)
PCT_OK = 94
PCT_NOT_FOUND = 97
PCT_TRANSIENT = 99

OK, NOT_FOUND, TRANSIENT, PERSISTENT = "ok", "not_found", "transient", "persistent"
HOT_SHARE = 0.24  # share of URLs on the hot host 0, as in ganda_spark/spec.py


def host_of(i: int, n: int, n_hosts: int) -> int:
    """Host of the i-th of n generated URLs: the first HOT_SHARE of them on
    host 0, the rest spread evenly over the other hosts."""
    n_hot = round(n * HOT_SHARE)
    return 0 if i < n_hot else 1 + (i - n_hot) % (n_hosts - 1)


def outcome(path: str) -> str:
    d = int(hashlib.md5(path.encode()).hexdigest()[:4], 16) % 100
    if d < PCT_OK:
        return OK
    if d < PCT_NOT_FOUND:
        return NOT_FOUND
    if d < PCT_TRANSIENT:
        return TRANSIENT
    return PERSISTENT


def page_body(path: str) -> str:
    """The 200 body of `path` — deterministic, a few hundred bytes."""
    anchors = "".join(f'<a href="{path}/{i}">{path}/{i}</a>\n' for i in (1, 2))
    digest = hashlib.sha256(path.encode()).hexdigest()
    return (
        "<!doctype html>\n<html><head><title>" + path + "</title></head>\n"
        "<body><p>page " + path + " " + digest + "</p>\n" + anchors + "</body></html>\n"
    )


ERROR_BODY = {404: "not found\n", 500: "internal error\n"}
REASON = {200: "OK", 404: "Not Found", 500: "Internal Server Error"}


def respond(status: int, body: bytes, content_type: bytes = b"text/html") -> bytes:
    head = (
        b"HTTP/1.1 %d %s\r\nContent-Type: %s\r\nContent-Length: %d\r\n"
        b"Connection: keep-alive\r\n\r\n"
        % (status, REASON.get(status, "OK").encode(), content_type, len(body))
    )
    return head + body


class Gauge:
    """A level (requests in flight) with its time integral and its peak."""

    def __init__(self, now: float):
        self.level = 0
        self.peak = 0
        self.integral = 0.0
        self._t = now

    def _advance(self, now: float) -> None:
        self.integral += self.level * (now - self._t)
        self._t = now

    def add(self, delta: int, now: float) -> None:
        self._advance(now)
        self.level += delta
        self.peak = max(self.peak, self.level)

    def snapshot(self, now: float, reset_peak: bool) -> dict:
        self._advance(now)
        out = {"level": self.level, "peak": self.peak, "integral_s": self.integral}
        if reset_peak:
            self.peak = self.level
        return out


class Origin:
    def __init__(self, n_hosts: int, delay_s: float):
        self.delay_s = delay_s
        now = time.monotonic()
        self.inflight = Gauge(now)
        self.host_inflight = [Gauge(now) for _ in range(n_hosts)]
        self.requests = 0
        self.connections = 0
        self.hits: dict[str, int] = {}
        self._bodies: dict[str, bytes] = {}

    def _response(self, path: str) -> bytes:
        hits = self.hits.get(path, 0) + 1
        self.hits[path] = hits
        kind = outcome(path)
        if kind == OK or (kind == TRANSIENT and hits > 1):
            cached = self._bodies.get(path)
            if cached is None:
                cached = respond(200, page_body(path).encode())
                self._bodies[path] = cached
            return cached
        status = 404 if kind == NOT_FOUND else 500
        return respond(status, ERROR_BODY[status].encode())

    async def serve_host(self, host: int, reader, writer) -> None:
        sock = writer.get_extra_info("socket")
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.connections += 1
        gauge = self.host_inflight[host]
        try:
            while True:
                head = await reader.readuntil(b"\r\n\r\n")
                lines = head.decode("latin-1").split("\r\n")
                target = lines[0].split(" ")[1]
                length = 0
                for line in lines[1:]:
                    if line[:15].lower() == "content-length:":
                        length = int(line[15:].strip())
                if length:
                    await reader.readexactly(length)
                now = time.monotonic()
                self.requests += 1
                self.inflight.add(1, now)
                gauge.add(1, now)
                try:
                    await asyncio.sleep(self.delay_s)
                    writer.write(self._response(target.split("?", 1)[0]))
                finally:
                    now = time.monotonic()
                    self.inflight.add(-1, now)
                    gauge.add(-1, now)
        except (asyncio.IncompleteReadError, ConnectionError):
            pass
        finally:
            writer.close()

    def counters(self, reset_peaks: bool) -> dict:
        now = time.monotonic()
        return {
            "t": now,
            "cpu_s": time.process_time(),
            "requests": self.requests,
            "connections": self.connections,
            "inflight": self.inflight.snapshot(now, reset_peaks),
            "host_inflight": [g.snapshot(now, reset_peaks) for g in self.host_inflight],
            "hits": self.hits,
        }

    async def serve_control(self, reader, writer) -> None:
        try:
            head = await reader.readuntil(b"\r\n\r\n")
            target = head.decode("latin-1").split(" ", 2)[1]
            if target.startswith("/counters"):
                body = json.dumps(self.counters("reset_peaks=1" in target)).encode()
                writer.write(respond(200, body, b"application/json"))
            else:
                writer.write(respond(404, ERROR_BODY[404].encode()))
            await writer.drain()
        except (asyncio.IncompleteReadError, ConnectionError):
            pass
        finally:
            writer.close()


async def main_async(n_hosts: int, delay_ms: float) -> None:
    origin = Origin(n_hosts, delay_ms / 1000.0)
    servers, addrs = [], []
    for i in range(n_hosts):
        addr = f"127.0.0.{i + 1}"
        srv = await asyncio.start_server(
            lambda r, w, i=i: origin.serve_host(i, r, w), addr, 0, backlog=1024
        )
        servers.append(srv)
        addrs.append([addr, srv.sockets[0].getsockname()[1]])
    control = await asyncio.start_server(origin.serve_control, "127.0.0.1", 0)
    servers.append(control)
    print(json.dumps({"hosts": addrs, "control": control.sockets[0].getsockname()[1]}),
          flush=True)

    loop = asyncio.get_running_loop()
    stop = loop.create_future()
    for sig in (signal.SIGTERM, signal.SIGINT):
        loop.add_signal_handler(sig, lambda: stop.done() or stop.set_result(None))
    # the parent closing our stdin also stops us, so no orphan survives it
    loop.add_reader(sys.stdin.fileno(),
                    lambda: sys.stdin.buffer.read1(4096) or stop.done()
                    or stop.set_result(None))
    await stop
    for srv in servers:
        srv.close()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--hosts", type=int, default=6)
    ap.add_argument("--delay-ms", type=float, default=10.0)
    args = ap.parse_args()
    asyncio.run(main_async(args.hosts, args.delay_ms))
    return 0


if __name__ == "__main__":
    sys.exit(main())
