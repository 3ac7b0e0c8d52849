"""Workload definitions shared by the generator and run.py.

Pure Python with no Spark import, so the generator process stays free of
the JVM. Every size, rate and rule of both workloads lives here; the
generator derives all randomness from the ``--seed`` argument only.

Traffic shape: only the Zipf constant has a public basis. The op mix, the
backlog's key model and the value mixes are assumptions, marked as such
below; perfbench/METRICS.md lists the metrics each of them moves.
"""

from __future__ import annotations

import importlib.util
import json
import os
import random

HERE = os.path.dirname(os.path.abspath(__file__))

# --- steady_upsert: open loop, fixed release rate --------------------------

STEADY_KEYS = 30_000  # preloaded target rows, ids 1..STEADY_KEYS
STEADY_RESERVED_EVERY = 10  # ids divisible by this are never touched: readers use them
STEADY_RATE = 100  # events per second offered by the generator
STEADY_TICK_S = 0.5  # one Debezium-JSON file per tick
STEADY_WARMUP_MAX_S = 120.0  # tick files prepared for the warm-up phase at most
STEADY_ZIPF_S = 0.99  # YCSB's default zipfian constant (Cooper et al., SoCC 2010)
# assumption, "mostly updates, some deletes and creates": update, delete,
# create of a fresh id. The backlog uses the same update:delete ratio.
OP_MIX = (0.85, 0.08, 0.07)
RESERVED_SCORE_BASE = 10**9  # reserved rows' zone column lies above every generated score
GEN_SCORE_MAX = 10**8

STEADY_FIELDS = [
    ("id", "long"),
    ("status", "string"),
    ("amount", "double"),
    ("score", "long"),
    ("qty", "long"),
]
STEADY_STATUSES = ["new", "paid", "packed", "shipped", "returned"]

# --- backfill_avro: closed loop, pre-staged Avro backlog --------------------

BACKFILL_FILE_BYTES = 900 * 1024  # framed Avro bytes per file (>= 0.8 MiB floor)
BACKFILL_EVENTS_PER_S = 1800  # nominal capacity used only to size the backlog
BACKFILL_WARMUP_FILES = 2  # drained into a separate warm-up target during set-up
BACKFILL_MIN_FILES = 4
# assumption: share of backlog events that create a new key (a reload
# replays the snapshot's creates with the later changes interleaved); the
# other events pick an earlier key with density skewed toward the oldest
BACKFILL_KEYS_SHARE = 0.6
BACKFILL_V1_FIELDS = [
    ("id", "long"),
    ("name", "string"),
    ("email", "string"),
    ("mobile", "string"),
    ("city", "string"),
    ("status", "string"),
    ("amount", "double"),
    ("note", "string"),
]
BACKFILL_V2_FIELDS = BACKFILL_V1_FIELDS + [("segment", "string")]  # added halfway
BACKFILL_SCHEMA_IDS = (101, 102)
BACKFILL_CITIES = ["Bangalore", "Delhi", "Mumbai", "Pune", "Chennai", "Kolkata"]
BACKFILL_STATUSES = ["active", "inactive", "blocked"]
BACKFILL_SEGMENTS = ["retail", "corp", "gov"]
BACKFILL_MASK = {
    "salt": "perfbench-salt",
    "tables": {
        "customers": {
            "non_pii_keys": ["id", "status", "amount"],
            "conditional_non_pii_keys": {"city": ["Ban%", "Del%"]},
            "dependent_non_pii_keys": {"name": {"status": ["active"]}},
            "length_keys": ["note"],
            "mobile_keys": ["mobile"],
            "regex_pattern_boolean_keys": {"email": {"corp": ".*@corp\\.example$"}},
        }
    },
}

TOPIC = "db.shop"
RAW_SCHEMA = "topic string, partition int, offset long, value string"


def load_avro_wire():
    """``tipoca_stream_spark.sources.avro_wire`` loaded from its file, so the
    generator does not import the package ``__init__`` chain (which pulls in
    pyspark)."""
    path = os.path.join(os.path.dirname(HERE), "tipoca_stream_spark", "sources", "avro_wire.py")
    spec = importlib.util.spec_from_file_location("perfbench_avro_wire", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def avro_envelope_schema(fields) -> str:
    return json.dumps(
        {
            "type": "record",
            "name": "Envelope",
            "namespace": TOPIC,
            "fields": [
                {
                    "name": "before",
                    "type": [
                        "null",
                        {
                            "type": "record",
                            "name": "Value",
                            "fields": [{"name": n, "type": ["null", t]} for n, t in fields],
                        },
                    ],
                },
                {"name": "after", "type": ["null", "Value"]},
                {"name": "op", "type": ["null", "string"]},
                {"name": "ts_ms", "type": ["null", "long"]},
            ],
        },
        sort_keys=True,
    )


class Zipf:
    """Seeded Zipf(s) sampler over ranks 0..n-1 by inverse-CDF bisection."""

    def __init__(self, n: int, s: float, rng: random.Random):
        import bisect
        import itertools

        self._bisect = bisect.bisect_left
        self._cdf = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(n)))
        self._rng = rng

    def draw(self) -> int:
        return min(self._bisect(self._cdf, self._rng.random() * self._cdf[-1]), len(self._cdf) - 1)


def steady_row(rng: random.Random, key: int) -> dict:
    return {
        "id": key,
        "status": rng.choice(STEADY_STATUSES),
        "amount": round(rng.uniform(0, 5000), 2),
        "score": rng.randrange(GEN_SCORE_MAX),
        "qty": rng.randrange(1, 50),
    }


def steady_preload_row(rng: random.Random, key: int) -> dict:
    row = steady_row(rng, key)
    if key % STEADY_RESERVED_EVERY == 0:
        # reserved rows: unique zone values above every generated score, so a
        # range read over them has a fixed, checkable answer
        row["score"] = RESERVED_SCORE_BASE + key
    return row


def backfill_row(rng: random.Random, key: int, with_segment: bool) -> dict:
    # assumption: the e-mail and note mixes are chosen so that the regex and
    # length mask rules take each of their branches, not taken from traffic
    corp = rng.random() < 0.3
    row = {
        "id": key,
        "name": rng.choice(["Asha", "Ravi", "Meera", "John", "Li", "Sara"]) + str(rng.randrange(1000)),
        "email": f"u{key}.{rng.randrange(100)}@{'corp.example' if corp else 'mail.example'}",
        "mobile": "9" + "".join(rng.choice("0123456789") for _ in range(9)),
        "city": rng.choice(BACKFILL_CITIES),
        "status": rng.choice(BACKFILL_STATUSES),
        "amount": round(rng.uniform(0, 10000), 2),
        "note": rng.choice(["", "  ", "vip", "call back", "x" * rng.randrange(1, 40)]),
    }
    if with_segment:
        row["segment"] = rng.choice(BACKFILL_SEGMENTS)
    return row


def steady_ticks(seconds: int) -> tuple[int, int]:
    """(ticks prepared, ticks in the measured window)."""
    measured = int(round(seconds / STEADY_TICK_S))
    return int(STEADY_WARMUP_MAX_S / STEADY_TICK_S) + measured, measured


def backfill_files(seconds: int) -> int:
    """Measured backlog files: sized so the drain takes about ``seconds`` at
    the nominal capacity, never fewer than BACKFILL_MIN_FILES triggers."""
    est_event_bytes = 130
    per_file = BACKFILL_FILE_BYTES // est_event_bytes
    return max(BACKFILL_MIN_FILES, int(round(seconds * BACKFILL_EVENTS_PER_S / per_file)))
