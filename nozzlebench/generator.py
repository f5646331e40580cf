"""Load generator: a stub Doppler in its own single-threaded process.

It builds the seeded corpus, listens on a loopback port, upgrades the
first websocket connection with ``rfc6455.server_handshake`` (as
tests/stub_doppler.py does) and then streams the pre-encoded frames,
cycling through the corpus:

- ``--rate 0`` (saturated): as fast as TCP accepts, so the nozzle
  always has a standing backlog. Each chunk's hand-off time is logged.
- ``--rate R`` (paced): open loop. On connect it sends ``WARMUP_FRAMES``
  frames at once, so the consumer's first, slow micro-batch has rows,
  then waits for ``go``. Frame ``warmup + k`` is due ``k/R`` seconds
  after ``go`` and is sent when due, whatever the consumer does; how
  late each frame left is recorded.

Control is line-based JSON on stdout and plain commands on stdin:

    stdout  {"event": "listening", "port": P}
            {"event": "connected"}
            {"event": "started", "t0": T}           after "go"
            {"event": "report", "sent": N, ...}     after "stop"
    stdin   go      start the paced schedule
            stop    stop sending, print the report, keep the socket open
                    (a consumer hanging up also ends sending)
            exit    (or EOF) close the connection and exit

Run: ``python3 -m nozzlebench.generator --seed 1 --rate 5000``.
"""

from __future__ import annotations

import argparse
import json
import os
import select
import socket
import sys
import time

from kafka_firehose_nozzle_spark.sources import rfc6455

from nozzlebench import corpus

CHUNK_FRAMES = 256
WARMUP_FRAMES = 1_000  # paced: sent on connect, before the schedule


def _emit(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


class _Commands:
    """Non-blocking reader for newline-terminated stdin commands."""

    def __init__(self) -> None:
        self.fd = sys.stdin.fileno()
        self._buf = b""
        self.eof = False

    def poll(self, timeout: float) -> list[str]:
        r, _, _ = select.select([self.fd], [], [], max(0.0, timeout))
        if not r:
            return []
        data = os.read(self.fd, 4096)
        if not data:
            self.eof = True
            return ["exit"]
        self._buf += data
        *lines, self._buf = self._buf.split(b"\n")
        cmds = [ln.decode().strip() for ln in lines if ln.strip()]
        self.eof = self.eof or "exit" in cmds
        return cmds


class Generator:
    def __init__(self, seed: int, rate: float) -> None:
        frames = corpus.ws_frames(corpus.envelopes(seed, corpus.SIZE))
        self.blob = b"".join(frames)
        self.offsets = [0]
        for f in frames:
            self.offsets.append(self.offsets[-1] + len(f))
        self.n = len(frames)
        self.rate = rate
        self.sent = 0
        self.late_s: list[float] = []  # paced: per-frame lateness
        self.send_log: list[tuple[int, float]] = []  # saturated

    def _chunk(self, start: int, count: int) -> memoryview | bytes:
        """Frames ``start .. start+count`` of the endless corpus cycle."""
        i = start % self.n
        j = i + count
        view = memoryview(self.blob)
        if j <= self.n:
            return view[self.offsets[i] : self.offsets[j]]
        return bytes(view[self.offsets[i] :]) + bytes(
            view[: self.offsets[j - self.n]]
        )

    def _send(self, sock: socket.socket, count: int) -> float:
        data = self._chunk(self.sent, count)
        sock.sendall(data)
        self.sent += count
        return time.time()

    def saturate(self, sock: socket.socket, cmds: _Commands) -> None:
        while "stop" not in cmds.poll(0) and not cmds.eof:
            self.send_log.append((self.sent, self._send(sock, CHUNK_FRAMES)))

    def pace(self, sock: socket.socket, cmds: _Commands, warmup: int) -> None:
        self._send(sock, warmup)
        while True:
            got = cmds.poll(1.0)
            if "go" in got:
                break
            if got or cmds.eof:  # stopped before the schedule began
                return
        t0 = time.time()
        _emit({"event": "started", "t0": t0})
        while True:
            due = warmup + int((time.time() - t0) * self.rate) + 1
            if due > self.sent:
                first = self.sent
                t_sent = self._send(sock, due - first)
                self.late_s.extend(
                    t_sent - t0 - (k - warmup) / self.rate
                    for k in range(first, due)
                )
            wait = t0 + (self.sent - warmup) / self.rate - time.time()
            if "stop" in cmds.poll(wait) or cmds.eof:
                return

    def report(self, connections: int) -> dict:
        late = sorted(self.late_s)
        p99 = late[int(0.99 * (len(late) - 1))] if late else 0.0
        return {
            "event": "report",
            "sent": self.sent,
            "late_p99_ms": p99 * 1000.0,
            "send_log": self.send_log,
            "connections": connections,
        }


def _pending_connections(listener: socket.socket) -> int:
    """Dials queued behind the served one: each is a nozzle reconnect."""
    listener.setblocking(False)
    n = 0
    while True:
        try:
            sock, _ = listener.accept()
        except BlockingIOError:
            return n
        sock.close()
        n += 1


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, default=0.0)
    args = ap.parse_args(argv)

    gen = Generator(args.seed, args.rate)
    cmds = _Commands()
    listener = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    listener.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    listener.bind(("127.0.0.1", 0))
    listener.listen(4)
    _emit({"event": "listening", "port": listener.getsockname()[1]})
    conn = None
    try:
        while conn is None:
            r, _, _ = select.select([listener, cmds.fd], [], [])
            if cmds.fd in r and "exit" in cmds.poll(0):
                return 0
            if listener in r:
                sock, _ = listener.accept()
                sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
                conn = rfc6455.server_handshake(sock)
        _emit({"event": "connected"})
        try:
            if args.rate > 0:
                gen.pace(sock, cmds, WARMUP_FRAMES)
            else:
                gen.saturate(sock, cmds)
        except (BrokenPipeError, ConnectionResetError):
            pass  # the consumer hung up: report what it was sent
        _emit(gen.report(1 + _pending_connections(listener)))
        while not cmds.eof:
            cmds.poll(1.0)
    finally:
        if conn is not None:
            conn.close(rfc6455.CLOSE_GOING_AWAY)
        listener.close()
    return 0


if __name__ == "__main__":
    sys.exit(main())
