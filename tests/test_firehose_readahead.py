"""The firehose source's one-range read-ahead (sources/firehose.py,
``ReadAheadStreamReader``): it must hand Spark exactly what
``FirehoseStreamReader.read()`` reads, as Arrow, and keep every failure
path the plain reader has.

The differential test collects the same stub-Doppler frames through both
readers and compares them, in the collect-and-compare style of Spark
plugin suites (run one function under two engines, assert the collected
results are equal). The failure-path tests run a real query against the
stub Doppler.
"""

from __future__ import annotations

import os
import threading
import time

import pyarrow as pa
import pytest
from pyspark.sql.worker.plan_data_source_read import records_to_arrow_batches

from kafka_firehose_nozzle_spark import schemas
from kafka_firehose_nozzle_spark.fixtures import canonical_envelopes
from kafka_firehose_nozzle_spark.sources.dropsonde_wire import encode_envelope
from kafka_firehose_nozzle_spark.sources.firehose import (
    FirehoseDataSource,
    FirehoseStreamReader,
    ReadAheadStreamReader,
    rows_to_record_batch,
)

from tests.stub_doppler import StubDoppler

TOKEN = "bearer test-token"
CORRUPT = b"\xff\xff\xff"


def differential_frames() -> list[bytes]:
    """The eight FIXTURES §1.1 shapes, plus shapes they leave out: tags
    and envelope headers, an all-null nested struct, a null nested
    struct beside a list."""
    canon = canonical_envelopes()
    err = dict(canon[5], deployment="cf", job="doppler", index="0", ip="10.0.0.1")
    err["tags"] = {"zone": "z1", "empty": ""}
    err["error"] = {"source": None, "code": None, "message": None}
    http = dict(canon[1])
    http["httpStartStop"] = dict(
        http["httpStartStop"], applicationId=None, forwarded=["a", "b"]
    )
    return [encode_envelope(e) for e in canon + [err, http]]


def opts(stub: StubDoppler, **extra) -> dict:
    o = {
        "dopplerAddress": stub.address,
        "subscriptionID": "kafka-firehose-nozzle",
        "token": TOKEN,
        "idleTimeout": "2",
        "retryDelaySeconds": "0.01",
    }
    o.update({k: str(v) for k, v in extra.items()})
    return o


def pyspark_conversion(rows) -> list:
    """Rows as pyspark's source runner ships them from a tuple reader."""
    return list(
        records_to_arrow_batches(
            iter(rows), 10_000, schemas.ENVELOPE_SCHEMA, FirehoseDataSource({})
        )
    )


def collect(make_reader, to_batches, frames, n_ranges, **extra):
    """Serve ``frames`` from a fresh stub Doppler, read ``n_ranges``
    ranges and return them as one table, with their end offsets."""
    batches, ends = [], []
    with StubDoppler([{"frames": frames, "then": "silent"}], token=TOKEN) as stub:
        reader = make_reader(opts(stub, **extra))
        offset = reader.initialOffset()
        for _ in range(n_ranges):
            out, offset = reader.read(offset)
            batches += to_batches(out)
            ends.append(offset)
    schema = rows_to_record_batch([]).schema
    return pa.Table.from_batches(batches, schema=schema), ends


@pytest.mark.parametrize("filter_type", ["", "logs"], ids=["all", "logs"])
def test_read_ahead_batches_equal_pyspark_conversion_of_reader_rows(filter_type):
    """Same frames, both readers, three ranges of four frames: the second
    and third ranges the read-ahead reader returns were read on its
    background thread."""
    frames = differential_frames() * 2  # 20 frames, 12 read
    want, want_ends = collect(
        FirehoseStreamReader, pyspark_conversion, frames, 3,
        maxBatchRows=4, filterType=filter_type,
    )
    got, got_ends = collect(
        lambda o: ReadAheadStreamReader(FirehoseStreamReader(o)), list,
        frames, 3, maxBatchRows=4, filterType=filter_type,
    )
    assert got_ends == want_ends == [{"n": 4}, {"n": 8}, {"n": 12}]
    assert got.equals(want)
    if filter_type:
        assert got.num_rows == 2  # log1, at frames 0 and 10
        assert set(got.column("eventType").to_pylist()) == {schemas.LOG_MESSAGE}
    else:
        assert got.num_rows == 12
        assert got.column("tags").to_pylist()[8] == [("zone", "z1"), ("empty", "")]


def test_rows_to_record_batch_of_no_rows_has_the_envelope_schema():
    b = rows_to_record_batch([])
    assert b.num_rows == 0
    assert b.schema.names == schemas.ENVELOPE_SCHEMA.fieldNames()


# ------------------------------------------------ read-ahead bookkeeping


class ScriptedReader:
    """Stands in for FirehoseStreamReader: range k holds one row, and a
    start listed in ``fail`` raises."""

    def __init__(self, fail=()):
        self.starts: list[int] = []
        self.fail = set(fail)
        self.gate = threading.Event()
        self.gate.set()

    def initialOffset(self) -> dict:
        return {"n": 0}

    def read(self, start: dict):
        self.gate.wait(10)
        n = start["n"]
        self.starts.append(n)
        if n in self.fail:
            raise ValueError(f"bad frame at {n}")
        row = ("o", schemas.LOG_MESSAGE, n) + (None,) * 12
        return iter([row]), {"n": n + 1}


def timestamps(batches) -> list[int]:
    return [t for b in batches for t in b.column("timestamp").to_pylist()]


def wait_for(cond, timeout=5.0):
    deadline = time.time() + timeout
    while not cond():
        assert time.time() < deadline, "condition not reached"
        time.sleep(0.01)


def test_reads_exactly_one_range_ahead():
    inner = ScriptedReader()
    reader = ReadAheadStreamReader(inner)
    batches, end = reader.read({"n": 0})
    assert timestamps(batches) == [0] and end == {"n": 1}
    wait_for(lambda: inner.starts == [0, 1])
    time.sleep(0.1)
    assert inner.starts == [0, 1]  # one range ahead, no further
    batches, end = reader.read(end)
    assert timestamps(batches) == [1] and end == {"n": 2}
    wait_for(lambda: inner.starts == [0, 1, 2])


def test_read_ahead_from_another_offset_is_discarded():
    """A restart asks for a range other than the one read ahead: that
    range is dropped and the asked one is read synchronously."""
    inner = ScriptedReader()
    reader = ReadAheadStreamReader(inner)
    reader.read({"n": 0})
    batches, end = reader.read({"n": 7})
    assert timestamps(batches) == [7] and end == {"n": 8}
    assert inner.starts[:3] == [0, 1, 7]


def test_background_error_is_raised_by_the_next_read():
    inner = ScriptedReader(fail={1})
    reader = ReadAheadStreamReader(inner)
    assert timestamps(reader.read({"n": 0})[0]) == [0]
    with pytest.raises(ValueError, match="bad frame at 1"):
        reader.read({"n": 1})


def test_read_ahead_thread_is_a_daemon():
    inner = ScriptedReader()
    reader = ReadAheadStreamReader(inner)
    reader.read({"n": 0})
    inner.gate.clear()  # park the next read-ahead
    reader.read({"n": 1})
    ahead = [t for t in threading.enumerate() if t.name == "firehose-read-ahead"]
    assert ahead and all(t.daemon for t in ahead)
    inner.gate.set()


# ------------------------------------------------ failure paths in a query


def start_query(spark, tmp_path, stub, name, **extra):
    spark.dataSource.register(FirehoseDataSource)
    reader = spark.readStream.format("firehose")
    for k, v in opts(stub, **extra).items():
        reader = reader.option(k, v)
    return (
        reader.load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="0 seconds")
        .start()
    )


def assert_fails_with(q, message: str, timeout: float = 90) -> None:
    from pyspark.errors import StreamingQueryException

    try:
        with pytest.raises(StreamingQueryException, match=message):
            finished = q.awaitTermination(timeout)
            assert finished, f"query still running after {timeout} s"
    finally:
        q.stop()


def test_corrupt_frame_fails_the_query(spark, tmp_path):
    """Eight good frames fill the first range; the corrupt ninth lands in
    the range read ahead, and its decode error fails the query."""
    frames = [encode_envelope(e) for e in canonical_envelopes()]
    with StubDoppler(
        [{"frames": frames + [CORRUPT], "then": "silent"}], token=TOKEN
    ) as stub:
        q = start_query(
            spark, tmp_path, stub, "readahead_corrupt", maxBatchRows=8, idleTimeout=60
        )
        assert_fails_with(q, "ValueError: truncated varint")


def test_exhausted_retry_budget_fails_the_query(spark, tmp_path):
    """The first connection delivers and closes, and rotates the accepted
    token, so every redial of the read-ahead is refused with 401 until
    the budget is spent."""
    frames = [encode_envelope(e) for e in canonical_envelopes()]
    with StubDoppler(
        [{"frames": frames, "then": "close", "set_token": "bearer rotated"}],
        token=TOKEN,
    ) as stub:
        q = start_query(spark, tmp_path, stub, "readahead_retries", retryCount=2)
        assert_fails_with(q, "maximum number of connection retries reached")
    assert len(stub.rejected) >= 2


def source_runner_pids() -> set[int]:
    """Live Spark Python source-runner processes (Linux /proc)."""
    pids = set()
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                if b"python_streaming_source_runner" in f.read():
                    pids.add(int(d))
        except (OSError, ValueError):
            pass
    return pids


def test_stop_returns_while_the_read_ahead_waits_on_a_silent_socket(spark, tmp_path):
    """After the eight frames the read-ahead waits up to idleTimeout=60 s
    for the next one; stopping the query must not wait for it, and the
    source-runner process must not outlive the query."""
    frames = [encode_envelope(e) for e in canonical_envelopes()]
    runners_before = source_runner_pids()
    with StubDoppler([{"frames": frames, "then": "silent"}], token=TOKEN) as stub:
        q = start_query(
            spark, tmp_path, stub, "readahead_stop", idleTimeout=60
        )
        try:
            deadline = time.time() + 60
            while spark.sql("select count(*) c from readahead_stop").first().c < 8:
                assert time.time() < deadline, "first batch never arrived"
                assert q.exception() is None, q.exception()
                time.sleep(0.2)
            time.sleep(1.0)  # Spark is now waiting on the read-ahead
        finally:
            t = time.time()
            q.stop()
            stopped_in = time.time() - t
    assert not q.isActive
    assert stopped_in < 10, stopped_in
    wait_for(lambda: not source_runner_pids() - runners_before)
