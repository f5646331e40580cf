"""Spans recorded from the benchmark's own files, around calls into the
program's layers.

``Spans`` keeps every span in memory (name, start, end, parent) and
writes them out once, at the end of a traced run. Two producers:

- ``batch_spans`` turns each micro-batch progress event into a batch
  span with one child per engine phase. Spark reports phase durations
  only, so the children are laid end to end in execution order. The
  source read inside ``latestOffset`` is estimated by ``source_read_s``
  from the probe below.
- ``probe_source`` calls ``FirehoseStreamReader.read()`` directly in this
  process against a generator serving the same corpus, with spans
  around websocket receive, protobuf decode and the dict->tuple
  conversion. In a running query these layers execute inside Spark's
  Python source-runner worker, out of reach of this process.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

from nozzlebench.latency import Batch

# MicroBatchExecution order: construct the batch (latestOffset, then the
# offset-log write), run it (getBatch, queryPlanning, addBatch), commit.
PHASES = [
    "latestOffset",
    "walCommit",
    "getBatch",
    "queryPlanning",
    "addBatch",
    "commitOffsets",
]


class Spans:
    def __init__(self) -> None:
        self.rows: list[tuple[str, float, float, int | None]] = []
        self._stack: list[int] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int:
        self.rows.append((name, start, end, parent))
        return len(self.rows) - 1

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            n, s, _, p = self.rows[sid]
            self.rows[sid] = (n, s, time.time(), p)

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it that its children cover."""
        covered = [0.0] * len(self.rows)
        for _, s, e, p in self.rows:
            if p is not None:
                ps, pe = self.rows[p][1], self.rows[p][2]
                covered[p] += max(0.0, min(e, pe) - max(s, ps))
        out: dict[str, float] = {}
        for i, (n, s, e, _) in enumerate(self.rows):
            out[n] = out.get(n, 0.0) + (e - s) - covered[i]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (n, s, e, p) in enumerate(self.rows):
                f.write(
                    json.dumps(
                        {"id": i, "name": n, "start": s, "end": e, "parent": p}
                    )
                    + "\n"
                )


def source_read_s(b: Batch, busy_per_row: float, due=None) -> float:
    """Estimated time of the source read in batch ``b``'s
    ``latestOffset``: the probe's busy time per row times the batch's
    rows, or, when frames are sent on a schedule (``due(i)``: frame
    ``i``'s due time), at least the wait for its last frame."""
    busy = busy_per_row * b.rows
    if due is None:
        return busy
    return max(busy, due(b.last - 1) - b.start)


def batch_spans(spans: Spans, batches: list[Batch], read_s: list[float]) -> list[float]:
    """Add one span tree per batch; return each batch's coverage, the
    share of ``triggerExecution`` that the measured layers account for:
    the source read (``read_s[k]`` for batch ``k``) plus every engine
    phase after ``latestOffset``.

    The read becomes a ``firehose.read`` child of ``latestOffset``; what
    remains of that phase is the runner's hand-off of the rows to the
    JVM, which nothing outside the runner can time. The read is not
    clipped to its phase, so a wrong estimate shows as coverage away
    from 1.
    """
    coverage = []
    for b, read in zip(batches, read_s):
        root = spans.add("microbatch.batch", b.start, b.end)
        t = b.start
        measured = read
        for ph in PHASES:
            d = b.durations.get(ph, 0) / 1000.0
            sid = spans.add(f"microbatch.{ph}", t, t + d, root)
            if ph == "latestOffset":
                spans.add("firehose.read", t, t + read, sid)
            else:
                measured += d
            t += d
        trigger = b.end - b.start
        coverage.append(measured / trigger if trigger > 0 else 1.0)
    return coverage


class _TimedSocket:
    """Socket stand-in that times each kernel ``recv`` as waiting."""

    def __init__(self, sock, spans: Spans, counts: dict) -> None:
        self._sock = sock
        self._spans = spans
        self._counts = counts

    def recv(self, n: int) -> bytes:
        with self._spans.span("rfc6455.socket_wait") as sid:
            data = self._sock.recv(n)
        _, start, end, _ = self._spans.rows[sid]
        self._counts["wait_s"] += end - start
        self._counts["bytes"] += len(data)
        return data

    def __getattr__(self, name):
        return getattr(self._sock, name)


@contextmanager
def _instrumented(reader, spans: Spans, counts: dict):
    """Wrap the reader's connection, the protobuf decoder and the tuple
    conversion in spans; restore all three on exit."""
    from kafka_firehose_nozzle_spark.sources import dropsonde_wire, firehose

    conn = reader._conn
    raw_sock, raw_recv = conn._sock, conn.recv
    decode, to_tuple = dropsonde_wire.decode_envelope, firehose._envelope_dict_to_tuple

    def recv(*a, **kw):
        with spans.span("rfc6455.recv"):
            msg = raw_recv(*a, **kw)
        counts["frames"] += 1
        return msg

    def traced_decode(buf):
        with spans.span("dropsonde_wire.decode"):
            try:
                return decode(buf)
            except ValueError:
                counts["decode_errors"] += 1
                raise

    def traced_tuple(d):
        with spans.span("firehose.tuple"):
            return to_tuple(d)

    conn._sock = _TimedSocket(raw_sock, spans, counts)
    conn.recv = recv
    dropsonde_wire.decode_envelope = traced_decode
    firehose._envelope_dict_to_tuple = traced_tuple
    try:
        yield
    finally:
        conn._sock, conn.recv = raw_sock, raw_recv
        dropsonde_wire.decode_envelope = decode
        firehose._envelope_dict_to_tuple = to_tuple


def probe_source(
    address: str, spans: Spans, plain_reads: int, traced_reads: int
) -> tuple[dict, float]:
    """Read full batches straight from a saturating generator at
    ``address``: one to connect and warm up, then ``plain_reads``
    uninstrumented, then ``traced_reads`` with spans into ``spans``,
    which must start empty. Returns the source-layer metrics, with the
    tracing overhead, and the median uninstrumented read time per row:
    busy time, as a saturating generator leaves the reader next to no wait
    (``rfc6455.recv_wait_s`` gives the traced reads' wait)."""
    from kafka_firehose_nozzle_spark.sources.firehose import FirehoseStreamReader

    reader = FirehoseStreamReader(
        {
            "dopplerAddress": address,
            "subscriptionID": "nozzlebench",
            "token": "bearer nozzlebench",
            "idleTimeout": "10",
        }
    )
    counts = {"frames": 0, "bytes": 0, "decode_errors": 0, "wait_s": 0.0}
    plain_rows, plain_s, per_row = 0, 0.0, []
    read_times, busy_times, traced_rows = [], [], 0
    try:
        rows, offset = reader.read({"n": 0})  # connect + warm; untimed
        for _ in range(plain_reads):
            t = time.time()
            rows, offset = reader.read(offset)
            dt, n = time.time() - t, len(list(rows))
            plain_s, plain_rows = plain_s + dt, plain_rows + n
            per_row.append(dt / n)
        with _instrumented(reader, spans, counts):
            for _ in range(traced_reads):
                waited = counts["wait_s"]
                with spans.span("firehose.read") as sid:
                    rows, offset = reader.read(offset)
                    rows = list(rows)
                read_times.append(spans.rows[sid][2] - spans.rows[sid][1])
                busy_times.append(read_times[-1] - (counts["wait_s"] - waited))
                traced_rows += len(rows)
    finally:
        reader._drop_connection()
    st = spans.self_times()
    plain_rate = plain_rows / plain_s
    traced_rate = traced_rows / sum(read_times)
    metrics = {
        "rfc6455.frames": counts["frames"],
        "rfc6455.bytes": counts["bytes"],
        "rfc6455.recv_busy_s": st.get("rfc6455.recv", 0.0),
        "rfc6455.recv_wait_s": st.get("rfc6455.socket_wait", 0.0),
        "dropsonde_wire.decode_busy_s": st.get("dropsonde_wire.decode", 0.0),
        "dropsonde_wire.decode_errors": counts["decode_errors"],
        "firehose.read_s": statistics.median(read_times),
        "firehose.read_busy_s": statistics.median(busy_times),
        "firehose.tuple_busy_s": st.get("firehose.tuple", 0.0),
        "trace_overhead": (plain_rate - traced_rate) / plain_rate,
    }
    return metrics, statistics.median(per_row)
