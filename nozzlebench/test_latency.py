"""The benchmark's own arithmetic, on synthetic progress with a known
answer. Run: ``python3 -m pytest nozzlebench/test_latency.py``."""

from __future__ import annotations

import datetime as dt

import pytest

from nozzlebench import latency, trace


def _iso(epoch: float) -> str:
    t = dt.datetime.fromtimestamp(epoch, dt.timezone.utc)
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def _progress(batch_id, start, trigger_ms, first, last, qid="q"):
    return {
        "id": qid,
        "batchId": batch_id,
        "timestamp": _iso(start),
        "numInputRows": last - first,
        "durationMs": {
            "latestOffset": trigger_ms // 2,
            "addBatch": trigger_ms // 2,
            "triggerExecution": trigger_ms,
        },
        "sources": [{"startOffset": {"n": first}, "endOffset": {"n": last}}],
    }


# 10 warm-up frames, then 100 ev/s from t0 = 1000 s: frame 10 + k is due
# at 1000 + k/100. Batch 1 carries frames 10..109 and ends at 1001.5;
# batch 2 carries 110..209 and ends at 1002.5. In both, latencies run
# 1500, 1490, ..., 510 ms.
T0, RATE, WARM = 1000.0, 100.0, 10
PROGRESS = [
    _progress(0, 1000.0, 500, 0, 10),
    _progress(1, 1000.5, 1000, 10, 110),
    _progress(2, 1001.5, 1000, 110, 210),
    {"id": "q", "batchId": 3, "timestamp": _iso(1002.5), "sources": [
        {"startOffset": {"n": 210}, "endOffset": {"n": 210}}]},  # no data
    _progress(1, 1000.5, 1000, 10, 110, qid="other query"),
]


def test_batches_parse_offsets_and_end_times():
    bs = latency.data_batches(PROGRESS, "q")
    assert [b.batch_id for b in bs] == [0, 1, 2]
    b1 = bs[1]
    assert (b1.first, b1.last, b1.rows) == (10, 110, 100)
    assert b1.start == pytest.approx(1000.5)
    assert b1.end == pytest.approx(1001.5)


def test_offset_ranges_to_latency_percentiles():
    bs = latency.data_batches(PROGRESS, "q")
    window = latency.in_window(bs, after_id=0, t_to=1002.5)
    assert [b.batch_id for b in window] == [1, 2]
    due = latency.paced_due(T0, RATE, WARM)
    assert due(10) == pytest.approx(1000.0)
    assert due(109) == pytest.approx(1000.99)
    lat = latency.event_latencies_ms(window, due)
    assert len(lat) == 200
    assert min(lat) == pytest.approx(510.0)
    assert max(lat) == pytest.approx(1500.0)
    s = latency.latency_summary(lat)
    # nearest rank: the 100th of 200 sorted samples is 1000 ms
    assert s["p50_ms"] == pytest.approx(1000.0)
    # 200 samples support p95 (10 beyond it), not p99
    assert s["tail_pct"] == pytest.approx(95.0)
    assert s["tail_ms"] == pytest.approx(1450.0)
    assert s["n"] == 200
    # the window's 100 rows of batch 1 over its start to batch 2's start
    assert latency.rows_per_second(window[:1], bs) == pytest.approx(100.0)
    assert latency.rows_per_second(bs[:2], bs) == pytest.approx(110 / 1.5)
    with pytest.raises(ValueError):
        latency.rows_per_second(window, bs)  # batch 2 has no successor


def test_batch_latencies_one_sample_per_batch():
    bs = latency.data_batches(PROGRESS, "q")
    assert latency.batch_latencies_ms(bs) == [
        pytest.approx(500.0),
        pytest.approx(1000.0),
        pytest.approx(1000.0),
    ]
    # too few samples for a p99: the tail falls back to the median
    summary = latency.latency_summary(latency.batch_latencies_ms(bs))
    assert summary["tail_pct"] == 50.0 and summary["n"] == 3


def test_window_excludes_warm_up_and_late_batches():
    bs = latency.data_batches(PROGRESS, "q")
    assert [b.batch_id for b in latency.in_window(bs, 1, 1002.5)] == [2]
    assert latency.in_window(bs, 0, 1002.0) == [bs[1]]


def test_backlog_at_batch_start():
    bs = latency.data_batches(PROGRESS, "q")
    due_by = latency.paced_due_by(T0, RATE, WARM)
    assert due_by(999.0) == WARM  # before the schedule only warm-up is due
    # at 1000.5 frames 10..60 are due; batch 1 starts at frame 10
    assert latency.backlog_at(bs[1], due_by) == 51


def test_tail_percentile_needs_ten_samples_beyond():
    assert latency.tail_percentile(1000) == 99.0
    assert latency.tail_percentile(100) == pytest.approx(90.0)
    assert latency.tail_percentile(10) == 50.0
    assert latency.percentile([1.0, 2.0, 3.0, 4.0], 50.0) == 2.0
    assert latency.percentile([1.0, 2.0, 3.0, 4.0], 99.0) == 4.0


def test_frames_sent_by_from_send_log():
    log = [(256, 5.0), (512, 6.0)]
    due_by = latency.logged_due_by(log)
    assert [due_by(4.0), due_by(5.5), due_by(6.0)] == [0, 256, 512]


def test_span_self_times_and_batch_coverage():
    spans = trace.Spans()
    root = spans.add("read", 0.0, 10.0)
    spans.add("decode", 1.0, 4.0, root)
    spans.add("recv", 5.0, 7.0, root)
    st = spans.self_times()
    assert st == {"read": pytest.approx(5.0), "decode": 3.0, "recv": 2.0}

    bs = latency.data_batches(PROGRESS, "q")
    spans = trace.Spans()
    coverage = trace.batch_spans(spans, bs[1:2] * 3, read_s=[0.2, 0.5, 0.8])
    # measured: the read plus addBatch (0.5 s), over triggerExecution
    # (1 s); a read longer than its phase is not clipped
    assert coverage == [pytest.approx(0.7), pytest.approx(1.0), pytest.approx(1.3)]
    st = spans.self_times()
    assert st["firehose.read"] == pytest.approx(1.5)
    assert st["microbatch.latestOffset"] == pytest.approx(0.3)
    assert st["microbatch.batch"] == pytest.approx(0.0, abs=1e-6)


def test_source_read_time_estimate():
    b = latency.data_batches(PROGRESS, "q")[1]  # 100 rows, starts 1000.5
    # a standing backlog: the probe's busy time for the batch's rows
    assert trace.source_read_s(b, 0.001) == pytest.approx(0.1)
    # on a schedule, the read cannot end before its last frame (109) is
    # due at 1000.99
    due = latency.paced_due(T0, RATE, WARM)
    assert trace.source_read_s(b, 0.001, due) == pytest.approx(0.49)
    assert trace.source_read_s(b, 0.01, due) == pytest.approx(1.0)
