"""The benchmark's workloads, each driving the program's public entry
points and checking its outputs.

Every workload returns a ``Result``: the end-to-end figures (always),
the per-layer figures (traced runs only), the number of operations
attempted and failed, and one line per output check.
"""

from __future__ import annotations

import json
import os
import queue
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter
from dataclasses import dataclass, field

from nozzlebench import corpus, generator, latency, trace

MAX_BATCH_ROWS = 10_000  # the firehose source's default maxBatchRows
PACED_RATE = 5_000.0  # events/s; saturated capacity is ~10k on 4 cores
# warm-up batches: the first pays codegen; the saturated pipeline's 1 s
# batches keep speeding up for dozens more (the longer the warm-up, the
# less runs differ), and a paced run works off the backlog its slow
# early batches left
WARM_BATCHES = {"saturated": 15, "paced": 4}
SETUP_LIMIT_S = 100.0  # process start to ready
ROUTE_ROWS = 2_000_000
DRAIN_TIMEOUT_S = 30.0  # generator stopped to last frame delivered
# more lateness than this makes a paced run's latency untrustworthy
GEN_LATE_LIMIT_MS = 50.0


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)  # name -> (value, samples)
    layers: dict = field(default_factory=dict)  # name -> value
    attempted: int = 0
    failed: int = 0
    checks: list = field(default_factory=list)  # (ok, text)
    flags: list = field(default_factory=list)  # results not to be trusted
    notes: list = field(default_factory=list)  # run facts worth printing

    def check(self, ok: bool, text: str) -> None:
        self.checks.append((ok, text))


@dataclass
class Context:
    workload: str
    spark: object
    root: str  # checkout root
    work: str  # scratch directory inside the checkout, emptied per run
    out: str  # where traced runs write their spans
    seed: int
    seconds: float
    trace: bool
    t_start: float  # process start, for setup_s
    rss: object  # rss.PeakRSS; generator pids join its exclude set
    gen: GeneratorProcess | None  # stream workloads: started with the JVM
    sf_dir: str | None  # analytics_headline: the bench.py test data


# --------------------------------------------------------------- generator


class GeneratorProcess:
    """The load generator (nozzlebench/generator.py) as a child process."""

    def __init__(self, root: str, seed: int, rate: float) -> None:
        self._lines: queue.Queue = queue.Queue()
        self.rate = rate
        self.proc = subprocess.Popen(
            [
                sys.executable,
                "-m",
                "nozzlebench.generator",
                "--seed",
                str(seed),
                "--rate",
                str(rate),
            ],
            cwd=root,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            text=True,
        )
        threading.Thread(target=self._pump, daemon=True).start()
        self._address: str | None = None

    @property
    def address(self) -> str:
        """The websocket URL, once the generator has built its corpus."""
        if self._address is None:
            port = self.wait("listening", 60)["port"]
            self._address = f"ws://127.0.0.1:{port}"
        return self._address

    def _pump(self) -> None:
        for line in self.proc.stdout:
            self._lines.put(json.loads(line))
        self._lines.put(None)

    def wait(self, event: str, timeout: float) -> dict:
        deadline = time.time() + timeout
        while True:
            msg = self._lines.get(timeout=max(0.01, deadline - time.time()))
            if msg is None:
                raise RuntimeError(f"generator exited before {event!r}")
            if msg["event"] == event:
                return msg

    def _command(self, cmd: str) -> None:
        self.proc.stdin.write(cmd + "\n")
        self.proc.stdin.flush()

    def go(self) -> None:
        self._command("go")

    def stop(self) -> dict:
        self._command("stop")
        return self.wait("report", 60)

    def close(self) -> None:
        try:
            self._command("exit")
        except (BrokenPipeError, ValueError):
            pass
        try:
            self.proc.wait(10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


# ---------------------------------------------------------------- streaming


def _progress_listener(sink: list):
    from pyspark.sql.streaming import StreamingQueryListener

    class Capture(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            sink.append(json.loads(event.progress.json))

        def onQueryTerminated(self, event):
            pass

        def onQueryIdle(self, event):
            pass

    return Capture()


def _addbatch_tasks(spark, run_id: str, batch_count: int) -> float:
    """Tasks per batch across the query's jobs (its job group is the
    run id), as the status tracker still remembers them."""
    st = spark.sparkContext.statusTracker()
    tasks = 0
    for jid in st.getJobIdsForGroup(run_id):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else ():
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return tasks / max(1, batch_count)


def _stream(ctx: Context, sink: str, res: Result) -> dict:
    """Run firehose -> route(with_observe) -> sink against ``ctx.gen``.
    Returns what the checks and the metrics need."""
    from kafka_firehose_nozzle_spark.pipeline import route_envelopes_config
    from kafka_firehose_nozzle_spark.sinks.batchwise import (
        write_stream_parquet_idempotent,
    )
    from kafka_firehose_nozzle_spark.sources.firehose import FirehoseDataSource
    from kafka_firehose_nozzle_spark.stats import Stats, make_streaming_listener

    spark = ctx.spark
    ckpt = os.path.join(ctx.work, "checkpoint")
    lake = os.path.join(ctx.work, "lake")
    progress: list[dict] = []
    stats = Stats()
    stats_listener = make_streaming_listener(stats)
    capture = _progress_listener(progress)
    gen, rate = ctx.gen, ctx.gen.rate
    q = None
    try:
        spark.dataSource.register(FirehoseDataSource)
        df = (
            spark.readStream.format("firehose")
            .option("dopplerAddress", gen.address)
            .option("subscriptionID", "nozzlebench")
            .option("token", "bearer nozzlebench")
            .option("idleTimeout", "10")
            .option("maxBatchRows", str(MAX_BATCH_ROWS))
            .load()
        )
        routed = route_envelopes_config(df, corpus.CONFIG, with_observe=True)
        spark.streams.addListener(stats_listener)
        spark.streams.addListener(capture)
        if sink == "noop":
            q = (
                routed.writeStream.format("noop")
                .option("checkpointLocation", ckpt)
                .start()
            )
        else:
            q = write_stream_parquet_idempotent(routed, lake, ckpt)
        qid = str(q.id)
        stats_listener.query_id = qid
        gen.wait("connected", 120)

        def batches(deadline: float = float("inf")) -> list[latency.Batch]:
            if q.exception() is not None:
                raise RuntimeError(f"query failed: {q.exception()}")
            if time.time() > deadline:
                raise RuntimeError(f"not ready within {SETUP_LIMIT_S} s")
            return latency.data_batches(list(progress), qid)

        setup_deadline = ctx.t_start + SETUP_LIMIT_S
        if rate > 0:
            # the first batch (codegen, JIT) runs on the warm-up burst;
            # the open-loop schedule starts once it is done
            while not batches(setup_deadline):
                time.sleep(0.02)
            gen.go()
            t0 = gen.wait("started", 10)["t0"]
            due_by = latency.paced_due_by(t0, rate, generator.WARMUP_FRAMES)
        # warm-up: the first batches pay codegen and JIT; a paced run
        # also waits for two batches in a row that began with less than a
        # full batch due, i.e. for the reader to be reading live frames
        while True:
            bs = batches(setup_deadline)
            if len(bs) >= WARM_BATCHES["paced" if rate else "saturated"] and (
                rate == 0
                or all(
                    latency.backlog_at(b, due_by) < MAX_BATCH_ROWS for b in bs[-2:]
                )
            ):
                break
            time.sleep(0.02)
        ready_id = bs[-1].batch_id
        setup_s = time.time() - ctx.t_start
        deadline = time.time() + ctx.seconds
        while time.time() < deadline:
            batches()
            time.sleep(0.05)
        report = gen.stop()
        sent = report["sent"]
        drain_deadline = time.time() + DRAIN_TIMEOUT_S
        while max(b.last for b in batches()) < sent:
            if time.time() > drain_deadline:
                break
            time.sleep(0.05)
        q.stop()
        _mark_rss(ctx, res)
        run_id = str(q.runId)
        # progress reaches Python listeners asynchronously
        listener_deadline = time.time() + 15
        while stats.get("consume") < sent and time.time() < listener_deadline:
            time.sleep(0.05)
    finally:
        if q is not None and q.isActive:
            q.stop()
        spark.streams.removeListener(stats_listener)
        spark.streams.removeListener(capture)

    all_batches = latency.data_batches(list(progress), qid)
    window = latency.in_window(all_batches, ready_id, deadline)
    if not window:
        raise RuntimeError("no complete micro-batch inside the timed window")
    if rate > 0:
        due = latency.paced_due(t0, rate, generator.WARMUP_FRAMES)
        samples = latency.event_latencies_ms(window, due)
    else:
        due = None  # frames leave as fast as TCP accepts them
        due_by = latency.logged_due_by(report["send_log"])
        # a standing backlog's queue wait is set by the backlog, not by
        # the nozzle: an event's latency is its micro-batch's duration,
        # one sample per batch
        samples = latency.batch_latencies_ms(window)
    lat = latency.latency_summary(samples)
    res.metrics["events_per_s"] = (
        latency.rows_per_second(window, all_batches),
        sum(b.rows for b in window),
    )
    res.metrics["latency_p50_ms"] = (lat["p50_ms"], lat["n"])
    res.metrics["latency_p99_ms"] = (lat["tail_ms"], lat["n"])
    if lat["tail_pct"] < 99.0:
        res.flags.append(f"latency_p99_ms is p{lat['tail_pct']:.2f}: too few samples")
    res.metrics["setup_s"] = (setup_s, 1)
    if rate > 0:
        late = report["late_p99_ms"]
        res.notes.append(f"generator lateness p99 {late:.3g} ms")
        if late > GEN_LATE_LIMIT_MS:
            res.flags.append(
                f"generator ran late: p99 {late:.1f} ms > {GEN_LATE_LIMIT_MS} ms;"
                " latency figures are not valid"
            )
    res.attempted = sent
    return {
        "report": report,
        "sent": sent,
        "stats": stats.snapshot(),
        "window": window,
        "all_batches": all_batches,
        "due": due,
        "due_by": due_by,
        "run_id": run_id,
        "lake": lake,
    }


def _stream_layers(ctx: Context, run: dict, res: Result) -> None:
    """Per-layer figures for a traced stream run: engine phases from the
    progress events, source layers from a direct probe."""
    window, report = run["window"], run["report"]
    spans = trace.Spans()
    # the probe reads from a saturating generator in both workloads: a
    # paced one would make every read last as long as its schedule
    gen = GeneratorProcess(ctx.root, ctx.seed, 0.0)
    try:
        probe, busy_per_row = trace.probe_source(
            gen.address, spans, plain_reads=5, traced_reads=3
        )
        gen.stop()
    finally:
        gen.close()
    reads = [trace.source_read_s(b, busy_per_row, run["due"]) for b in window]
    coverage = trace.batch_spans(spans, window, reads)
    spans.dump(os.path.join(ctx.out, f"spans-{ctx.workload}-{ctx.seed}.jsonl"))
    med = statistics.median

    def phase(name: str) -> float:
        return med(b.durations.get(name, 0) for b in window)

    res.layers.update(probe)
    res.layers.update(
        {
            "firehose.reconnects": report["connections"] - 1,
            "firehose.batch_fill_frac": med(b.rows / MAX_BATCH_ROWS for b in window),
            "firehose.rows_kept_frac": sum(b.rows for b in window)
            / sum(b.last - b.first for b in window),
            "firehose.lag_events": med(
                max(0, run["due_by"](b.end) - b.last) for b in window
            ),
            "microbatch.latestOffset_ms": phase("latestOffset"),
            "microbatch.handoff_ms": med(
                b.durations.get("latestOffset", 0) - 1000.0 * r
                for b, r in zip(window, reads)
            ),
            "microbatch.addBatch_ms": phase("addBatch"),
            "microbatch.addBatch_tasks": _addbatch_tasks(
                ctx.spark, run["run_id"], len(run["all_batches"])
            ),
            "microbatch.queryPlanning_ms": phase("queryPlanning"),
            "microbatch.walCommit_ms": phase("walCommit"),
            "microbatch.commitOffsets_ms": phase("commitOffsets"),
            "microbatch.triggerExecution_ms": phase("triggerExecution"),
            "microbatch.batches": len(window),
            "microbatch.rows_per_batch": med(b.rows for b in window),
            "trace.coverage": med(coverage),
            "pipeline.forwarded_frac": run["stats"]["forwarded"]
            / run["stats"]["consume"],
            "gen.sent": report["sent"],
        }
    )


def _mark_rss(ctx: Context, res: Result) -> None:
    """Peak memory up to the end of the measured part. Sampling stops
    here, so checks and probes neither count nor share the interpreter
    with the sampler. Reported with the per-layer figures: the JVM's
    heap grows at the collector's pace, so the peak of identical runs
    spreads wider than any end-to-end bound (see NOTES.md)."""
    ctx.rss.stop()
    res.layers["peak_rss_mb"] = ctx.rss.peak / 2**20


def _check_stats(ctx: Context, run: dict, res: Result) -> None:
    """The listener's Stats counters equal the mix the generator sent."""
    envs = corpus.envelopes(ctx.seed, corpus.SIZE)
    want = corpus.expected_stats(envs, run["sent"])
    got = {k: run["stats"].get(k, 0) for k in corpus.STAT_KEYS}
    diff = {k: (got[k], want[k]) for k in corpus.STAT_KEYS if got[k] != want[k]}
    res.failed += max((abs(g - w) for g, w in diff.values()), default=0)
    res.check(
        not diff,
        "Stats counters equal the generator's mix"
        + (f": consume={got['consume']}" if not diff else f"; mismatches {diff}"),
    )


def _check_lake(ctx: Context, run: dict, res: Result) -> None:
    """The parquet lake, read back, holds exactly what a batch
    ``route_envelopes`` over the same frames produces: compared as
    per-topic counts plus the multiset of value hashes."""
    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark import schemas
    from kafka_firehose_nozzle_spark.pipeline import route_envelopes_config

    spark = ctx.spark
    hashed = [F.col("topic"), F.xxhash64("value").alias("h")]
    # the frames sent were ``full`` corpus cycles plus the first ``rest``
    # envelopes; each routed value carries its envelope's timestamp,
    # which gives its corpus position
    envs = corpus.envelopes(ctx.seed, corpus.SIZE)
    full, rest = divmod(run["sent"], len(envs))
    df = spark.createDataFrame(envs, schemas.ENVELOPE_SCHEMA, verifySchema=False)
    want: Counter = Counter()
    for r in route_envelopes_config(df, corpus.CONFIG).select(*hashed, "value").collect():
        i = corpus.position(json.loads(r.value)["timestamp"])
        want[(r.topic, r.h)] += full + (1 if i < rest else 0)
    got = Counter(
        (r.topic, r.h)
        for r in spark.read.parquet(run["lake"]).select(*hashed).collect()
    )
    # equal multisets of (topic, value hash) imply equal per-topic counts
    missing = sum((want - got).values())
    extra = sum((got - want).values())
    res.failed += max(missing, extra)
    res.check(
        missing == 0 and extra == 0,
        f"lake equals batch route_envelopes: {sum(got.values())} rows in "
        f"{len({t for t, _ in got})} topics, {missing} missing, {extra} unexpected",
    )


def _lake_layers(run: dict, res: Result) -> None:
    """Parquet files and bytes the batchwise sink wrote, per batch."""
    files, size = 0, 0
    for dirpath, _, names in os.walk(run["lake"]):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    batches = max(1, len(run["all_batches"]))
    res.layers["batchwise.bytes_written"] = size / batches
    res.layers["batchwise.files"] = files / batches


def firehose_saturated(ctx: Context) -> Result:
    res = Result()
    run = _stream(ctx, "noop", res)
    _check_stats(ctx, run, res)
    if ctx.trace:
        _stream_layers(ctx, run, res)
        _lake_layers(run, res)  # the noop sink writes none
    return res


def firehose_paced(ctx: Context) -> Result:
    res = Result()
    run = _stream(ctx, "parquet", res)
    _check_lake(ctx, run, res)
    if ctx.trace:
        _stream_layers(ctx, run, res)
        _lake_layers(run, res)
    return res


# ------------------------------------------------------------ route/encode


def _expected_topic(df):
    """Destination topic per input row, from corpus.TOPICS, written
    without the routing code under test."""
    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark import schemas

    et = F.col("eventType")
    return (
        F.when(et == schemas.LOG_MESSAGE, F.concat(F.lit("log-"), F.col("logMessage.app_id")))
        .when(et == schemas.HTTP_START_STOP, F.lit("http"))
        .when(et == schemas.VALUE_METRIC, F.lit("metric"))
        .when(et == schemas.COUNTER_EVENT, F.lit("counter"))
        .when(et == schemas.CONTAINER_METRIC, F.lit("container"))
        .when(et == schemas.ERROR, F.lit("error"))
    )


def route_encode_batch(ctx: Context) -> Result:
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from kafka_firehose_nozzle_spark.fixtures import synthetic_envelope_df
    from kafka_firehose_nozzle_spark.pipeline import route_envelopes_config

    spark = ctx.spark
    res = Result()
    df = synthetic_envelope_df(spark, ROUTE_ROWS, seed=ctx.seed)

    def one_pass(with_observe: bool = True, df=df) -> tuple[float, dict]:
        consume, routed = Observation(), Observation()
        kw = (
            {"consume_observation": consume, "routed_observation": routed}
            if with_observe
            else {}
        )
        out = route_envelopes_config(df, corpus.CONFIG, with_observe=with_observe, **kw)
        t = time.perf_counter()
        out.write.format("noop").mode("overwrite").save()
        dt = time.perf_counter() - t
        return dt, ({**consume.get, **routed.get} if with_observe else {})

    # warm-up: codegen and JIT, on a quarter-size input
    one_pass(df=synthetic_envelope_df(spark, ROUTE_ROWS // 4, seed=ctx.seed))
    setup_s = time.time() - ctx.t_start
    passes: list[float] = []
    t_end = time.time() + ctx.seconds
    while not passes or time.time() < t_end:
        dt, obs = one_pass()
        passes.append(dt)
        res.attempted += ROUTE_ROWS
        bad = abs(obs["consume"] - ROUTE_ROWS) + abs(
            obs["forwarded"] + obs["ignored"] - ROUTE_ROWS
        )
        res.failed += min(ROUTE_ROWS, bad)
    _mark_rss(ctx, res)
    res.check(
        res.failed == 0,
        f"{len(passes)} passes: observed consume and forwarded+ignored equal "
        f"{ROUTE_ROWS} each",
    )
    # untimed: per-topic counts against the input's event-type mix, in
    # one job: routed rows count +1 per topic, expected rows -1
    routed = route_envelopes_config(df, corpus.CONFIG).select(
        "topic", F.lit(1).alias("d")
    )
    expected = df.select(_expected_topic(df).alias("topic"), F.lit(-1).alias("d"))
    per_topic = (
        routed.unionByName(expected.where(F.col("topic").isNotNull()))
        .groupBy("topic")
        .agg(F.sum("d").alias("diff"), F.count_if(F.col("d") > 0).alias("rows"))
        .collect()
    )
    mismatch = sum(abs(r.diff) for r in per_topic)
    res.failed += mismatch
    res.check(
        mismatch == 0,
        f"per-topic counts match the input mix: {len(per_topic)} topics, "
        f"{sum(r.rows for r in per_topic)} rows, {mismatch} off",
    )
    res.metrics["events_per_s"] = (
        ROUTE_ROWS / statistics.median(passes),
        ROUTE_ROWS * len(passes),
    )
    # every event of a pass shares the pass's latency: one sample each
    lat = latency.latency_summary([p * 1000.0 for p in passes])
    res.metrics["latency_p50_ms"] = (lat["p50_ms"], lat["n"])
    res.metrics["latency_p99_ms"] = (lat["tail_ms"], lat["n"])
    if lat["tail_pct"] < 99.0:
        res.flags.append(f"latency_p99_ms is p{lat['tail_pct']:.2f}: too few samples")
    res.metrics["setup_s"] = (setup_s, 1)
    if ctx.trace:
        # layer self times as differences of best-of-2 passes, taken
        # interleaved: the source alone, + route and encode, + observe
        spans = trace.Spans()
        for _ in range(2):
            with spans.span("pass.source"):
                df.write.format("noop").mode("overwrite").save()
            with spans.span("pass.route_encode"):
                one_pass(with_observe=False)
            with spans.span("pass.route_encode_observe"):
                one_pass()
        spans.dump(os.path.join(ctx.out, f"spans-{ctx.workload}-{ctx.seed}.jsonl"))
        best = {}
        for name, start, end, _ in spans.rows:
            best[name] = min(best.get(name, end - start), end - start)
        res.layers.update(
            {
                "fixtures.source_s": best["pass.source"],
                "pipeline.route_encode_s": best["pass.route_encode"]
                - best["pass.source"],
                "stats.observe_s": best["pass.route_encode_observe"]
                - best["pass.route_encode"],
                "pipeline.forwarded_frac": obs["forwarded"] / obs["consume"],
            }
        )
    return res


# --------------------------------------------------------------- analytics


def analytics_headline(ctx: Context) -> Result:
    """The bench.py headline queries at ``ctx.sf_dir``, each timed once
    after a warm-up pass, with row counts checked against the DuckDB
    oracle."""
    import duckdb

    import __spark_entry__ as entry
    from bench import BENCH_QUERIES

    spark, sf_dir = ctx.spark, ctx.sf_dir
    res = Result()
    qs, oracle = entry.queries(), entry.oracle_sql()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()
    setup_s = time.time() - ctx.t_start
    con = duckdb.connect()
    for name in os.listdir(sf_dir):
        if name.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {name[:-8]} AS SELECT * FROM '{sf_dir}/{name}'"
            )
    times = {}
    for name in BENCH_QUERIES:
        res.attempted += 1
        try:
            qs[name](spark, sf_dir).count()  # warm-up pass
            t = time.perf_counter()
            n = qs[name](spark, sf_dir).count()
            dt = time.perf_counter() - t
        except Exception as e:  # one failing query must not hide the rest
            res.failed += 1
            res.check(False, f"{name}: {type(e).__name__}: {e}")
            continue
        times[name] = dt
        res.layers[f"analytics.{name}_s"] = dt
        if name in oracle:
            want = len(con.execute(oracle[name]).fetchall())
            if n != want:
                res.failed += 1
                res.check(False, f"{name}: {n} rows, oracle {want}")
    _mark_rss(ctx, res)
    con.close()
    res.check(res.failed == 0, f"{len(times)} of {len(BENCH_QUERIES)} queries match the oracle's row counts")
    total = sum(times.values())
    res.metrics["headline_total_s"] = (total, len(times))
    res.metrics["setup_s"] = (setup_s, 1)
    return res


@dataclass(frozen=True)
class Workload:
    run: object  # Context -> Result
    rate: float | None  # load generator rate (0: saturated); None: none
    protocol: str  # one line for the run-context header


WORKLOADS = {
    "firehose_saturated": Workload(
        firehose_saturated,
        0.0,
        "generator sends as fast as TCP accepts; firehose -> "
        f"route_envelopes(with_observe) -> noop; timed window of --seconds "
        f"after {WARM_BATCHES['saturated']} warm batches; whole batches only",
    ),
    "firehose_paced": Workload(
        firehose_paced,
        PACED_RATE,
        f"open loop at {PACED_RATE:g} ev/s; firehose -> route_envelopes"
        "(with_observe) -> batchwise parquet; timed window of --seconds after "
        "the start-up backlog drained; latency from due time to batch end",
    ),
    "route_encode_batch": Workload(
        route_encode_batch,
        None,
        f"{ROUTE_ROWS} synthetic_envelope_df rows -> route_envelopes"
        "(with_observe) -> noop, repeated for --seconds after one warm-up pass",
    ),
    "analytics_headline": Workload(
        analytics_headline,
        None,
        "bench.BENCH_QUERIES, one warm-up and one timed count() each",
    ),
}


def reset_dir(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
