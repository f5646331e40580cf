"""Seeded envelope corpus for the load generator and the output checks.

Every envelope is a copy of one of the eight canonical rows of
FIXTURES.md section 1.1 (``fixtures.canonical_envelopes()``), drawn
with the section 6 weights: log 70%, http 10%, valueMetric 10%,
counterEvent 5%, containerMetric 4%, and 1% split between error,
unknown type and the doppler slow-consumer counter. Each copy gets its
own increasing ``timestamp``; a log row also gets one of 100 app ids
and a message of varied size.

The log-message size spread (``LOG_SIZES``) is an assumption: neither
FIXTURES.md nor any data in the repository gives one. NOTES.md gives
its measured effect on ``events_per_s``.

The same seed always yields the same corpus, so the generator process
and the benchmark process build identical copies independently.
"""

from __future__ import annotations

import copy
import random
import uuid

from kafka_firehose_nozzle_spark import schemas
from kafka_firehose_nozzle_spark.config import Config, KafkaConfig, TopicConfig
from kafka_firehose_nozzle_spark.fixtures import canonical_envelopes
from kafka_firehose_nozzle_spark.sources import rfc6455
from kafka_firehose_nozzle_spark.sources.dropsonde_wire import encode_envelope
from kafka_firehose_nozzle_spark.stats import (
    DOPPLER_ORIGIN,
    TRUNCATING_BUFFER_COUNTER,
)

SIZE = 20_000  # distinct envelopes; the generator cycles through them
UNKNOWN_TYPE = -1
BASE_TS = 1_700_000_000_000_000_000

# the nozzle configuration every workload routes with: templated log
# topics (one per app id), static topics for the other known types
TOPICS = TopicConfig(
    log_message_fmt="log-%s",
    value_metric="metric",
    container_metric="container",
    http_start_stop="http",
    counter_event="counter",
    error="error",
)
CONFIG = Config(kafka=KafkaConfig(topic=TOPICS))

# FIXTURES.md section 6 weights over the canonical rows, by row id
_LOG1, _HTTP1, _VM1, _CE1, _CM1, _ERR1, _UNK1, _SLOW1 = range(8)
_WEIGHTS = [
    (70, [_LOG1]),
    (10, [_HTTP1]),
    (10, [_VM1]),
    (5, [_CE1]),
    (4, [_CM1]),
    (1, [_ERR1, _UNK1, _SLOW1]),
]

# log-message sizes in bytes: (weight, low, high); assumed, see above
LOG_SIZES = [(70, 16, 128), (25, 128, 512), (5, 512, 2048)]


def app_ids(seed: int) -> list[str]:
    rng = random.Random(f"app-ids-{seed}")
    return [str(uuid.UUID(int=rng.getrandbits(128))) for _ in range(100)]


def _envelope(rng: random.Random, i: int, apps: list[str], rows: list[dict]) -> dict:
    ids = rng.choices([ids for _, ids in _WEIGHTS], [w for w, _ in _WEIGHTS])[0]
    env = copy.deepcopy(rows[rng.choice(ids)])
    env["timestamp"] = BASE_TS + i * 1000
    if env["eventType"] == schemas.LOG_MESSAGE:
        _, lo, hi = rng.choices(LOG_SIZES, [w for w, _, _ in LOG_SIZES])[0]
        size = rng.randrange(lo, hi)
        env["logMessage"]["message"] = rng.randbytes(size // 2 + 1).hex().encode()[:size]
        env["logMessage"]["app_id"] = rng.choice(apps)
    return env


def position(timestamp: int) -> int:
    """Corpus index of the envelope with this ``timestamp``."""
    return (timestamp - BASE_TS) // 1000


def envelopes(seed: int, n: int) -> list[dict]:
    """``n`` envelope dicts, a pure function of ``seed``."""
    rng = random.Random(f"corpus-{seed}")
    apps, rows = app_ids(seed), canonical_envelopes()
    return [_envelope(rng, i, apps, rows) for i in range(n)]


def ws_frames(envs: list[dict]) -> list[bytes]:
    """Pre-encoded server-side websocket frames (unmasked, binary), one
    dropsonde envelope each: what a Doppler writes on the wire."""
    return [
        rfc6455.encode_frame(rfc6455.OP_BINARY, encode_envelope(e), mask=False)
        for e in envs
    ]


def counter_key(env: dict) -> str:
    """The Stats counter an envelope increments on the consume side."""
    return {
        schemas.HTTP_START_STOP: "consume_http_start_stop",
        schemas.LOG_MESSAGE: "consume_log_message",
        schemas.VALUE_METRIC: "consume_value_metric",
        schemas.COUNTER_EVENT: "consume_counter_event",
        schemas.ERROR: "consume_error",
        schemas.CONTAINER_METRIC: "consume_container_metric",
    }.get(env["eventType"], "consume_unknown")


def expected_stats(envs: list[dict], sent: int) -> dict:
    """Counters a correct nozzle reports after consuming the first
    ``sent`` frames of the corpus cycle: consume per type, forwarded,
    ignored and slow-consumer alerts. Computed from the corpus alone,
    without the routing code under test."""
    per_env: dict[str, int] = {}
    full, rest = divmod(sent, len(envs))
    for i, env in enumerate(envs):
        times = full + (1 if i < rest else 0)
        if not times:
            continue
        keys = [counter_key(env)]
        keys.append(
            "ignored" if env["eventType"] == UNKNOWN_TYPE else "forwarded"
        )
        if (
            env["origin"] == DOPPLER_ORIGIN
            and (env["counterEvent"] or {}).get("name")
            == TRUNCATING_BUFFER_COUNTER
        ):
            keys.append("slow_consumer_alert")
        for k in keys:
            per_env[k] = per_env.get(k, 0) + times
    out = {k: per_env.get(k, 0) for k in STAT_KEYS}
    out["consume"] = sent
    return out


STAT_KEYS = [
    "consume",
    "consume_http_start_stop",
    "consume_value_metric",
    "consume_counter_event",
    "consume_log_message",
    "consume_error",
    "consume_container_metric",
    "consume_unknown",
    "ignored",
    "forwarded",
    "slow_consumer_alert",
]
