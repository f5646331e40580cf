"""Firehose streaming source: a Spark 4 Python DataSource (SRC1/SRC2).

The reference consumes CloudFoundry's firehose over a websocket
(go-nozzle consumer.go:126-156; path /firehose/<subscription_id> built in
noaa firehose.go:42-44) after fetching a UAA OAuth token
(go-nozzle token.go:37-66). The stream is NOT replayable — go-nozzle just
reads the socket. Spark mapping: a ``SimpleDataSourceStreamReader``,
whose contract (driver-side prefetch + cache until commit) is what a
non-replayable socket needs for at-least-once micro-batching.

Two readers split the work:

- ``FirehoseStreamReader.read(start)`` reads one range off the socket
  and decodes it to row tuples: the connection, the batch-cut rule
  (``maxBatchRows`` rows or a 50 ms gap), the retry budget, the idle
  timeout and 1008 accounting all live there.
- ``ReadAheadStreamReader`` is what Spark drives. It wraps the first
  and reads one range ahead, as go-nozzle reads its websocket on its own
  goroutine (consumer.go:47-49,149): when it hands range k to Spark it
  starts reading range k+1 on one background thread, so receive and
  decode run while Spark runs batch k. The thread also packs the rows
  into one ``pyarrow.RecordBatch``, which Spark's source runner ships to
  the JVM as it is instead of converting row by row.

Memory and loss bounds. At most one range is read ahead, so the source
holds about two batches (``maxBatchRows`` each); while the read-ahead
range is full the reader stops receiving and TCP backpressure reaches
Doppler as before, with its 1008 slow-consumer close. The read-ahead
range has no offset yet, so a query stop drops it, as it drops the
kernel socket buffer: the loss on stop is at most one ``maxBatchRows``
range plus that buffer. After a restart the prefetched-but-uncommitted
ranges are dropped and counted (``readBetweenOffsets``).

Source options (all strings, per the DataSource API):

- ``dopplerAddress``  wss:// endpoint (config.go:21)
- ``subscriptionID``  firehose subscription/consumer group (config.go:11)
- ``uaaAddress`` / ``username`` / ``password`` / ``token``  auth
  (config.go:24-29); explicit token wins, like go-nozzle nozzle.go:112-138
- ``insecureSSLSkipVerify``  (config.go:12)
- ``idleTimeout``  seconds without a message -> connection dead
  (ST5; cli.go:50, default 60)
- ``retryCount``  reconnect budget before the stream errors
  (ST4; cli.go:53, default 5)
- ``maxBatchRows``  cap per micro-batch (backpressure, replaces the
  reference's channel-buffer tuning, kafka.go:24-25)
- ``filterType``  server-side event filter (SRC3): ``logs`` or
  ``metrics``, appended to the websocket URL as ``filter-type=...``
  exactly like noaa (noaa/consumer/filter.go:3-20, firehose.go:42-44);
  also enforced client-side so fixture mode honors it
- ``retryDelaySeconds``  initial reconnect backoff; doubles per failure
  up to 60 s (noaa async.go:21-23 DefaultMinRetryDelay/MaxRetryDelay)
- ``fixtureRows``  TEST MODE: emit N deterministic canonical envelopes
  per batch instead of connecting (keeps CI network-free; live mode
  uses the hand-rolled stdlib RFC 6455 client in rfc6455.py — no
  third-party websocket package required)
- ``fixtureWire``  with fixtureRows: route the fixture envelopes through
  the dropsonde wire codec (encode -> decode) so CI exercises the same
  decode path live traffic takes

Rows conform to schemas.ENVELOPE_SCHEMA.
"""

from __future__ import annotations

import json
import logging
import threading
from collections.abc import Iterator

from pyspark.sql.datasource import DataSource, SimpleDataSourceStreamReader

from kafka_firehose_nozzle_spark import schemas

DEFAULT_IDLE_TIMEOUT = 60  # cli.go:50
DEFAULT_RETRY_COUNT = 5  # cli.go:53
DEFAULT_UAA_TIMEOUT = 20  # cli.go:42
DEFAULT_MAX_BATCH_ROWS = 10_000
DEFAULT_MIN_RETRY_DELAY = 0.5  # noaa async.go:21 DefaultMinRetryDelay
DEFAULT_MAX_RETRY_DELAY = 60.0  # noaa async.go:22 DefaultMaxRetryDelay


def fetch_uaa_token(
    uaa_addr: str,
    username: str,
    password: str,
    insecure: bool = False,
    timeout: int = DEFAULT_UAA_TIMEOUT,
) -> str:
    """OAuth password-grant against UAA (go-nozzle token.go:37-66; uaago's
    GetAuthToken uses the ``cf`` client with an empty secret).

    Validation errors match token.go:69-83.
    """
    if not uaa_addr:
        raise ValueError("UaaAddr must not be empty")
    if not username:
        raise ValueError("Username must not be empty")
    if not password:
        raise ValueError("Password must not be empty")

    import base64
    import ssl
    import urllib.parse
    import urllib.request

    data = urllib.parse.urlencode(
        {
            "grant_type": "password",
            "username": username,
            "password": password,
            "response_type": "token",
        }
    ).encode()
    req = urllib.request.Request(
        f"{uaa_addr.rstrip('/')}/oauth/token",
        data=data,
        headers={
            # uaago authenticates as the public "cf" client
            "Authorization": "Basic "
            + base64.b64encode(b"cf:").decode(),
            "Content-Type": "application/x-www-form-urlencoded",
        },
    )
    ctx = ssl._create_unverified_context() if insecure else None
    with urllib.request.urlopen(req, timeout=timeout, context=ctx) as resp:
        body = json.loads(resp.read())
    return f"{body['token_type']} {body['access_token']}"


# filterType -> allowed eventType set (noaa filter.go:3-20 semantics:
# logs = LogMessage only; metrics = the three metric envelope types)
FILTER_EVENT_TYPES = {
    "logs": frozenset({schemas.LOG_MESSAGE}),
    "metrics": frozenset(
        {schemas.VALUE_METRIC, schemas.COUNTER_EVENT, schemas.CONTAINER_METRIC}
    ),
}


def firehose_url(
    doppler_addr: str, subscription_id: str, filter_type: str = ""
) -> str:
    """wss URL for the firehose endpoint (noaa firehose.go:42-44), with
    the optional server-side filter-type query param (filter.go:11-19)."""
    url = f"{doppler_addr.rstrip('/')}/firehose/{subscription_id}"
    if filter_type:
        url += f"?filter-type={filter_type}"
    return url


class FirehoseStreamReader(SimpleDataSourceStreamReader):
    """Reads one offset range off the socket per ``read()`` call and
    decodes it to row tuples. Offsets are a monotonically increasing
    record counter. In a query, ``ReadAheadStreamReader`` calls
    ``read()`` one range ahead of Spark, on a background thread, and
    Spark's simple-reader wrapper caches each range it is handed until
    the checkpoint commits, giving at-least-once over the non-replayable
    socket (stronger than the reference's drop-on-overflow, ST1).
    ``read()`` is not thread-safe: one call at a time."""

    def __init__(self, options: dict) -> None:
        self.options = options
        self.max_batch = int(options.get("maxBatchRows", DEFAULT_MAX_BATCH_ROWS))
        self.fixture_rows = int(options.get("fixtureRows", 0))
        self.fixture_wire = options.get("fixtureWire", "false") == "true"
        self.filter_type = options.get("filterType", "")
        if self.filter_type and self.filter_type not in FILTER_EVENT_TYPES:
            raise ValueError(
                f"filterType must be 'logs' or 'metrics', got "
                f"{self.filter_type!r}"
            )
        # client-side guard; live connections ALSO push the filter to the
        # server via the filter-type query param (noaa filter.go:11-19)
        self._allowed = FILTER_EVENT_TYPES.get(self.filter_type)
        self._conn = None
        self._token = options.get("token", "")
        # live-restart replay loss tally (ADVICE: the reference counts
        # its drops, kafka.go:272; unobservable loss is not parity)
        self.dropped_replay_rows = 0
        # connection-level SlowConsumerAlert tally: go-nozzle's detector
        # raises the alert when the server closes 1008
        # (detector.go:71-99, websocket.ClosePolicyViolation)
        self.slow_consumer_close_alerts = 0
        # reconnect budget + exponential backoff (noaa retryAction,
        # async.go:315-351: sleep doubles from min to max; count resets
        # on a successful connect via the on-connect callback,
        # async.go:307-313)
        self.retry_count = int(options.get("retryCount", DEFAULT_RETRY_COUNT))
        self._min_retry_delay = float(
            options.get("retryDelaySeconds", DEFAULT_MIN_RETRY_DELAY)
        )
        self._retries_left = self.retry_count
        self._retry_sleep = self._min_retry_delay

    def initialOffset(self) -> dict:
        return {"n": 0}

    def _spend_retry(self, reason: str) -> None:
        """Burn one reconnect attempt, with noaa's doubling backoff
        (async.go:327-350). Exhausting the budget fails the stream with
        the reference's ErrMaxRetriesReached message (async.go:29)."""
        import time

        if self._retries_left <= 0:
            raise RuntimeError(
                "maximum number of connection retries reached"
            )
        self._retries_left -= 1
        logging.getLogger("kafka_firehose_nozzle_spark").warning(
            "firehose connection error: %s. Retrying... "
            "(%d attempt(s) left, backoff %.2fs)",
            reason,
            self._retries_left,
            self._retry_sleep,
        )
        time.sleep(self._retry_sleep)
        self._retry_sleep = min(self._retry_sleep * 2, DEFAULT_MAX_RETRY_DELAY)

    def _drop_connection(self) -> None:
        if self._conn is not None:
            try:
                self._conn.close()
            except Exception:
                pass
            self._conn = None

    def _connect(self):
        """Dial the firehose with the hand-rolled RFC 6455 client
        (rfc6455.py), sending the same headers noaa dials with
        (Authorization + Origin, async.go:423). Dial failures spend the
        retry budget; a successful upgrade resets it (async.go:307-313).
        """
        if self._conn is not None:
            return self._conn
        from kafka_firehose_nozzle_spark.sources import rfc6455

        doppler = self.options["dopplerAddress"]
        url = firehose_url(
            doppler, self.options["subscriptionID"], self.filter_type
        )
        ssl_context = None
        if url.startswith("wss"):
            import ssl

            ssl_context = (
                ssl._create_unverified_context()
                if self.options.get("insecureSSLSkipVerify", "false") == "true"
                else ssl.create_default_context()
            )
        open_timeout = float(
            self.options.get("idleTimeout", DEFAULT_IDLE_TIMEOUT)
        )
        if not self._token:
            # config VALIDATION is fatal and happens ONCE, outside the
            # retry loop (token.go:69-83) — so that inside the loop any
            # ValueError from the fetch is a transient body-parse
            # failure, not a misconfiguration
            if not self.options.get("uaaAddress", ""):
                raise ValueError("UaaAddr must not be empty")
            if not self.options.get("username", ""):
                raise ValueError("Username must not be empty")
            if not self.options.get("password", ""):
                raise ValueError("Password must not be empty")
        while True:
            if not self._token:
                try:
                    self._token = fetch_uaa_token(
                        self.options.get("uaaAddress", ""),
                        self.options.get("username", ""),
                        self.options.get("password", ""),
                        insecure=self.options.get(
                            "insecureSSLSkipVerify", "false"
                        )
                        == "true",
                    )
                except (OSError, ValueError, KeyError) as e:
                    # transient UAA failure — refused connection / 5xx
                    # (OSError incl. HTTPError), an LB answering 200
                    # with a non-JSON maintenance page (JSONDecodeError
                    # = ValueError), or a well-formed-but-wrong body
                    # (KeyError) — spends the retry budget with backoff
                    # like any other connect error instead of killing
                    # the stream. A bad-credential 401 from UAA is an
                    # HTTPError too: it burns the bounded budget then
                    # fails with max-retries.
                    self._spend_retry(f"UAA token fetch: {e}")
                    continue
            try:
                self._conn = rfc6455.connect(
                    url,
                    headers={"Authorization": self._token, "Origin": doppler},
                    timeout=open_timeout,
                    ssl_context=ssl_context,
                )
            except (rfc6455.WSError, OSError) as e:
                # Expired token: a long-lived stream's reconnect replays
                # the cached token and Doppler answers 401. The reference
                # refreshes on 401 (noaa async.go websocketConnNewToken ->
                # go-nozzle RefreshTokenFrom), so when UAA credentials are
                # configured (no explicit ``token`` option) drop the cache
                # and refetch on the next loop turn.
                if (
                    isinstance(e, rfc6455.WSHandshakeError)
                    and e.status == 401
                    and not self.options.get("token", "")
                ):
                    self._token = ""
                self._spend_retry(str(e))
                continue
            self._retries_left = self.retry_count
            self._retry_sleep = self._min_retry_delay
            return self._conn

    def _fixture_batch(self, start_n: int, count: int | None = None) -> list[tuple]:
        from kafka_firehose_nozzle_spark.fixtures import canonical_envelopes

        rows = []
        canon = canonical_envelopes()
        for i in range(self.fixture_rows if count is None else count):
            r = dict(canon[(start_n + i) % len(canon)])
            r["timestamp"] = (r["timestamp"] or 0) + start_n + i
            if self.fixture_wire:
                # same path live traffic takes: wire bytes -> decode
                from kafka_firehose_nozzle_spark.sources.dropsonde_wire import (
                    encode_envelope,
                )

                rows.append(_decode_dropsonde(encode_envelope(r)))
            else:
                rows.append(_envelope_dict_to_tuple(r))
        return rows

    def _keep(self, row: tuple) -> bool:
        # eventType is ENVELOPE_SCHEMA field 1
        return self._allowed is None or row[1] in self._allowed

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        n = start["n"]
        if self.fixture_rows:
            rows = [r for r in self._fixture_batch(n) if self._keep(r)]
            return iter(rows), {"n": n + self.fixture_rows}
        from kafka_firehose_nozzle_spark.sources import rfc6455

        conn = self._connect()
        rows = []
        n_read = 0
        idle = float(self.options.get("idleTimeout", DEFAULT_IDLE_TIMEOUT))
        while n_read < self.max_batch:
            try:
                # quick drain once the batch has rows; full idle wait
                # only while empty (the stdlib analog of gorilla's
                # per-read deadline, noaa async.go:255-257)
                msg = conn.recv(timeout=0.05 if rows else idle)
            except TimeoutError:
                if not rows:
                    # a full idleTimeout with zero messages means the
                    # connection is dead (ST5; noaa returns a retry
                    # error on the read deadline, async.go:266-268) —
                    # drop it and spend a reconnect attempt; the next
                    # micro-batch redials
                    self._drop_connection()
                    self._spend_retry(f"idle timeout after {idle}s")
                break
            except rfc6455.WSClosed as e:
                if e.code == rfc6455.CLOSE_POLICY_VIOLATION:
                    # go-nozzle detector.go:71-99: ClosePolicyViolation
                    # (1008) = server dropped us for being too slow
                    self.slow_consumer_close_alerts += 1
                    logging.getLogger(
                        "kafka_firehose_nozzle_spark"
                    ).warning(
                        "websocket terminates the connection because "
                        "connection is too slow (ClosePolicyViolation)"
                    )
                self._drop_connection()
                self._spend_retry(f"connection closed ({e.code} {e.reason})")
                break
            except (rfc6455.WSError, OSError) as e:
                self._drop_connection()
                self._spend_retry(str(e))
                break
            n_read += 1
            row = _decode_dropsonde(msg)
            if self._keep(row):  # belt over the server-side filter
                rows.append(row)
        return iter(rows), {"n": n + n_read}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        """Crash-recovery replay: after a restart Spark re-reads every
        batch that was planned but not yet committed (the driver-side
        prefetch cache died with the process). Fixture mode regenerates
        the exact offset range deterministically — at-least-once across
        restarts, asserted by
        tests/test_firehose_source.py::test_crash_recovery_replays_from_checkpoint.

        A live websocket cannot replay (go-nozzle just reads the socket;
        the reference DROPS on failure, kafka.go:269-271, and counts it).
        Returning the empty range reproduces that bounded, documented
        loss — only rows prefetched-but-uncommitted at crash time —
        instead of failing the restart.  The reference COUNTS those drops
        (delay counter, kafka.go:272), so the live path logs the lost
        offset range and tallies it in ``dropped_replay_rows`` rather
        than losing it unobservably."""
        n, n_end = start["n"], end["n"]
        if self.fixture_rows:
            return iter(
                [r for r in self._fixture_batch(n, n_end - n) if self._keep(r)]
            )
        lost = max(0, n_end - n)
        self.dropped_replay_rows += lost
        logging.getLogger("kafka_firehose_nozzle_spark").warning(
            "firehose restart: live socket cannot replay offsets [%d, %d); "
            "dropping %d prefetched-but-uncommitted row(s) "
            "(at-least-once bound; total dropped this reader: %d)",
            n,
            n_end,
            lost,
            self.dropped_replay_rows,
        )
        return iter(())

    def commit(self, end: dict) -> None:
        pass


def _envelope_dict_to_tuple(r: dict) -> tuple:
    """Envelope dict (fixtures format) -> row tuple in schema order."""

    def sub(d: dict | None, schema) -> tuple | None:
        if d is None:
            return None
        return tuple(
            sub(d[f.name], f.dataType)
            if hasattr(f.dataType, "fields") and d[f.name] is not None
            else d[f.name]
            for f in schema.fields
        )

    out = []
    for f in schemas.ENVELOPE_SCHEMA.fields:
        v = r.get(f.name)
        if hasattr(f.dataType, "fields"):
            v = sub(v, f.dataType)
        out.append(v)
    return tuple(out)


def _decode_dropsonde(msg: bytes) -> tuple:
    """Dropsonde protobuf wire bytes -> envelope tuple (S1).

    Hand-rolled proto2 wire parser (see dropsonde_wire.py) — the same
    decode the reference gets from ``proto.Unmarshal`` inside noaa
    (go-nozzle consumer.go:103), with no descriptor or protobuf runtime
    required on executors.
    """
    from kafka_firehose_nozzle_spark.sources.dropsonde_wire import decode_envelope

    return _envelope_dict_to_tuple(decode_envelope(bytes(msg)))


def rows_to_record_batch(rows: list[tuple]):
    """Envelope row tuples -> one ``pyarrow.RecordBatch``, built a column
    at a time. Equal to what pyspark's row-by-row
    ``records_to_arrow_batches`` builds from the same rows, at a fraction
    of its cost."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    schema = to_arrow_schema(schemas.ENVELOPE_SCHEMA)
    cols = zip(*rows) if rows else [()] * len(schema)
    return pa.RecordBatch.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(cols, schema)],
        schema=schema,
    )


class _ReadAhead(threading.Thread):
    """One background read of the range that starts at ``offset``.
    A daemon thread, so it never keeps the source-runner process alive
    and a query stop never waits for it."""

    def __init__(self, read, offset: dict) -> None:
        super().__init__(name="firehose-read-ahead", daemon=True)
        self.offset = offset
        self._read = read
        self._out = self._error = None
        self.start()

    def run(self) -> None:
        try:
            self._out = self._read(self.offset)
        except BaseException as e:
            self._error = e

    def result(self):
        self.join()
        if self._error is not None:
            raise self._error
        return self._out


class ReadAheadStreamReader(SimpleDataSourceStreamReader):
    """The reader Spark drives: ``FirehoseStreamReader`` plus one range
    of read-ahead (module docstring). ``read(start)`` returns the range
    the background thread read from ``start`` and starts reading the
    next one. A read-ahead from any other offset (Spark restarted the
    range) is discarded and the range is read synchronously. An error
    in the background read is raised by the next ``read()``."""

    def __init__(self, reader: FirehoseStreamReader) -> None:
        self.reader = reader
        self._ahead: _ReadAhead | None = None

    def initialOffset(self) -> dict:
        return self.reader.initialOffset()

    def _read_batch(self, start: dict):
        rows, end = self.reader.read(start)
        return rows_to_record_batch(list(rows)), end

    def read(self, start: dict) -> tuple[Iterator, dict]:
        ahead, self._ahead = self._ahead, None
        if ahead is not None and ahead.offset != start:
            # the reader is busy until the stale read finishes; its rows
            # (or its error) belong to a range Spark no longer asks for
            ahead.join()
            logging.getLogger("kafka_firehose_nozzle_spark").warning(
                "firehose: asked for offset %s, discarding the range read "
                "ahead from %s",
                start,
                ahead.offset,
            )
            ahead = None
        batch, end = ahead.result() if ahead else self._read_batch(start)
        self._ahead = _ReadAhead(self._read_batch, end)
        return iter([batch] if batch.num_rows else ()), end

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        return self.reader.readBetweenOffsets(start, end)

    def commit(self, end: dict) -> None:
        self.reader.commit(end)


class FirehoseDataSource(DataSource):
    """spark.readStream.format("firehose") after
    spark.dataSource.register(FirehoseDataSource)."""

    @classmethod
    def name(cls) -> str:
        return "firehose"

    def schema(self):
        return schemas.ENVELOPE_SCHEMA

    def simpleStreamReader(self, schema) -> ReadAheadStreamReader:
        return ReadAheadStreamReader(FirehoseStreamReader(self.options))
