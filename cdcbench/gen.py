"""Seeded change-event generator for the CDC benchmark.

Every workload's input comes from here and from nothing else: a
``random.Random(seed)`` stream drives key choice, operation choice and the
row images, so the same seed and parameters give byte-identical files.

The table is the customers-like PII table of FIXTURES.md F1 (plus an
``updated_at`` column, epoch ms, that the range reads and zone maps use).
Events are Debezium envelopes (``before``/``after``/``op``/``ts_ms``); each
carries its scheduled creation time in ``ts_ms``, in milliseconds relative
to the start of the stream, so the files do not depend on the wall clock.

Two wire forms:

- Debezium JSON lines, one Kafka-like record per line
  (``topic``/``partition``/``offset``/``value``);
- Confluent-framed Avro (``avro_wire.encode`` + ``frame``) in parquet files
  of binary records, one file per topic partition.
"""

from __future__ import annotations

import bisect
import json
import os
import random
from dataclasses import dataclass, field

TOPIC = "dbserver.database.customers"
TABLE = "customers"
SALT = "testhash"
# logical epoch of updated_at: bootstrap rows sit before it, stream events
# at BASE_MS + their scheduled time
BASE_MS = 1_700_000_000_000
BOOTSTRAP_SPAN_MS = 10_000_000
AVRO_SCHEMA_ID = 7

FIRST = ["Alice", "Bob", "Carol", "Dave", "Erin", "Frank", "Grace", "Heidi",
         "Ivan", "Judy", "Mallory", "Niaj", "Olivia", "Peggy", "Rupert", "Sybil"]
LAST = ["Smith", "Jones", "Dhoni", "Kumar", "Garcia", "Chen", "Okafor", "Rossi",
        "Novak", "Silva", None, ""]
DOMAINS = ["example.com", "exampledev.com", "mail.net", "corp.org", "inbox.io"]
NOTES = ["I am not interested in politics", "call after 6pm", "vip", "  ", None]
QUOTES = ["Life is what happens", "Time waits for no one", "Be yourself",
          "Stay hungry", None]
FOODS = ["pizza", "Pepperoni Pizza", "dosa", "ramen", "salad", None]

# (name, Spark type, Avro type) — column order is the table's column order
COLUMNS = [
    ("id", "int", "int"),
    ("first_name", "string", "string"),
    ("last_name", "string", ["null", "string"]),
    ("email", "string", "string"),
    ("mobile_number", "string", ["null", "string"]),
    ("dob", "date", ["null", "string"]),
    ("score", "decimal(10,4)", ["null", "string"]),
    ("notes", "string", ["null", "string"]),
    ("favourite_quote", "string", ["null", "string"]),
    ("favourite_food", "string", ["null", "string"]),
    ("created_at", "long", ["null", "long"]),
    ("updated_at", "long", "long"),
]

MASK_RULES = {
    "non_pii_keys": ["id", "created_at", "updated_at"],
    "conditional_non_pii_keys": {
        "email": ["%example.com", "%exampledev.com"],
        "notes": ["I am not interested in politics"],
    },
    "dependent_non_pii_keys": {"first_name": {"last_name": ["Jones", "Dhoni"]}},
    "length_keys": ["email"],
    "mobile_keys": ["mobile_number"],
    "regex_pattern_boolean_keys": {
        "dob": {"1986born": "1986-.*", "1988born": "1988-.*"},
        "favourite_quote": {"has_philosphy": "life|time"},
        "favourite_food": {"has_pizza": "pizza"},
    },
}


def avro_envelope_schema() -> dict:
    row = {
        "type": "record",
        "name": "Value",
        "namespace": TOPIC,
        "fields": [{"name": n, "type": a} for n, _, a in COLUMNS],
    }
    return {
        "type": "record",
        "name": "Envelope",
        "namespace": TOPIC,
        "fields": [
            {"name": "before", "type": ["null", row]},
            {"name": "after", "type": ["null", "Value"]},
            {"name": "op", "type": "string"},
            {"name": "ts_ms", "type": "long"},
        ],
    }


@dataclass
class Event:
    key: int
    op: str  # c | u | d, or t for the tombstone Debezium emits after a delete
    before: dict | None
    after: dict | None
    ts_ms: int  # scheduled creation time, ms from stream start
    partition: int = 0
    offset: int = 0


class Zipf:
    """Zipf(s) over ``n`` ranks; rank r maps to a key through a seeded
    permutation so the hot keys are spread over the hash buckets."""

    def __init__(self, n: int, s: float, rng: random.Random):
        acc, cdf = 0.0, []
        for r in range(1, n + 1):
            acc += 1.0 / r**s
            cdf.append(acc)
        self.cdf = [c / acc for c in cdf]
        self.keys = list(range(n))
        rng.shuffle(self.keys)
        self.rng = rng

    def draw(self) -> int:
        return self.keys[min(bisect.bisect_left(self.cdf, self.rng.random()), len(self.keys) - 1)]


@dataclass
class TableModel:
    """The generator's view of the source table: live rows and how to
    change them. Row images are drawn from ``rng``; ``partitions`` routes
    each key to a topic partition, whose offsets count up from 0."""

    rng: random.Random
    partitions: int = 1
    live: dict[int, dict] = field(default_factory=dict)
    next_key: int = 0
    _live_keys: list[int] = field(default_factory=list)
    _live_pos: dict[int, int] = field(default_factory=dict)
    _next_offset: list[int] = field(default_factory=list)

    def __post_init__(self):
        self._next_offset = [0] * self.partitions

    def row(self, key: int, ts_ms: int, created_at: int | None = None) -> dict:
        r = self.rng
        first = r.choice(FIRST)
        last = r.choice(LAST)
        mobile = r.choice([f"9{r.randrange(10**9):09d}", f"+91{r.randrange(10**10):010d}", None, ""])
        dob = None if r.random() < 0.1 else f"{r.randrange(1970, 2001)}-{r.randrange(1, 13):02d}-{r.randrange(1, 29):02d}"
        score = None if r.random() < 0.1 else f"{r.randrange(10**6)}.{r.randrange(10**4):04d}"
        return {
            "id": key,
            "first_name": first,
            "last_name": last,
            "email": f"{first.lower()}.{key}@{r.choice(DOMAINS)}",
            "mobile_number": mobile,
            "dob": dob,
            "score": score,
            "notes": r.choice(NOTES),
            "favourite_quote": r.choice(QUOTES),
            "favourite_food": r.choice(FOODS),
            "created_at": created_at if created_at is not None else BASE_MS + ts_ms,
            "updated_at": BASE_MS + ts_ms,
        }

    def _stamp(self, ev: Event) -> Event:
        ev.partition = ev.key % self.partitions
        ev.offset = self._next_offset[ev.partition]
        self._next_offset[ev.partition] += 1
        return ev

    def _set_live(self, key: int, image: dict | None) -> None:
        if image is not None:
            if key not in self.live:
                self._live_pos[key] = len(self._live_keys)
                self._live_keys.append(key)
            self.live[key] = image
        elif key in self.live:
            del self.live[key]
            i = self._live_pos.pop(key)
            last = self._live_keys.pop()
            if last != key:
                self._live_keys[i] = last
                self._live_pos[last] = i

    def create(self, key: int, ts_ms: int, updated_ms: int | None = None) -> Event:
        after = self.row(key, ts_ms if updated_ms is None else updated_ms)
        self._set_live(key, after)
        self.next_key = max(self.next_key, key + 1)
        return self._stamp(Event(key, "c", None, after, ts_ms))

    def update(self, key: int, ts_ms: int) -> Event:
        before = self.live[key]
        after = self.row(key, ts_ms, created_at=before["created_at"])
        self._set_live(key, after)
        return self._stamp(Event(key, "u", before, after, ts_ms))

    def delete(self, key: int, ts_ms: int) -> Event:
        before = self.live[key]
        self._set_live(key, None)
        return self._stamp(Event(key, "d", before, None, ts_ms))

    def tombstone(self, key: int, ts_ms: int) -> Event:
        return self._stamp(Event(key, "t", None, None, ts_ms))

    def random_live(self) -> int:
        return self._live_keys[self.rng.randrange(len(self._live_keys))]


class ChangeStream:
    """Draws change events: op by ``mix`` (update/create/delete shares),
    key by Zipf(s) over the first ``key_space`` ids. Updates and deletes
    need a live key, creates a dead one; up to 8 Zipf draws look for one,
    then an update/delete falls back to a uniform live key and a create to
    a fresh id."""

    def __init__(self, model: TableModel, key_space: int, zipf_s: float,
                 mix: tuple[float, float, float] = (0.70, 0.15, 0.15)):
        self.model = model
        self.zipf = Zipf(key_space, zipf_s, model.rng)
        self.mix = mix

    def next(self, ts_ms: int) -> list[Event]:
        """The next change, plus its tombstone when it is a delete."""
        m, r = self.model, self.model.rng.random()
        if r < self.mix[0] or (r >= self.mix[0] + self.mix[1] and m.live):
            want_live = True
        else:
            want_live = False
        if want_live and not m.live:
            want_live = False
        key = None
        for _ in range(8):
            k = self.zipf.draw()
            if (k in m.live) == want_live:
                key = k
                break
        if not want_live:
            return [m.create(key if key is not None else max(m.next_key, len(self.zipf.keys)), ts_ms)]
        if key is None:
            key = m.random_live()
        if r < self.mix[0]:
            return [m.update(key, ts_ms)]
        return [m.delete(key, ts_ms), m.tombstone(key, ts_ms)]

    def take(self, n: int, ts_ms: int) -> list[Event]:
        """``n`` change events (tombstones ride along uncounted)."""
        out: list[Event] = []
        for _ in range(n):
            out += self.next(ts_ms)
        return out


def bootstrap_events(model: TableModel, n_rows: int) -> list[Event]:
    """Create events for ids 0..n_rows-1, updated_at spread over the
    span before BASE_MS (ts_ms 0: they exist when the stream starts)."""
    step = BOOTSTRAP_SPAN_MS // max(n_rows, 1)
    return [model.create(k, 0, updated_ms=-BOOTSTRAP_SPAN_MS + k * step) for k in range(n_rows)]


# --- wire forms --------------------------------------------------------------


def envelope(ev: Event) -> dict:
    return {"before": ev.before, "after": ev.after, "op": ev.op, "ts_ms": ev.ts_ms}


def json_line(ev: Event) -> str:
    value = None if ev.op == "t" else json.dumps(envelope(ev), separators=(",", ":"))
    return json.dumps(
        {"topic": TOPIC, "partition": ev.partition, "offset": ev.offset, "value": value},
        separators=(",", ":"),
    )


def write_json_file(path: str, events: list[Event], mtime: float | None = None) -> int:
    """One Debezium-JSON file; returns its size in bytes. ``mtime`` pins
    the modification time, which orders files in the file stream source."""
    data = "".join(json_line(e) + "\n" for e in events).encode()
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)
    return len(data)


def avro_messages(events: list[Event]) -> list[bytes]:
    from tipoca_stream_spark.sources import avro_wire

    schema = avro_wire.parse_schema(json.dumps(avro_envelope_schema()))
    return [
        b"" if e.op == "t" else avro_wire.frame(AVRO_SCHEMA_ID, avro_wire.encode(schema, envelope(e)))
        for e in events
    ]


def write_avro_partitions(out_dir: str, events: list[Event], partitions: int) -> int:
    """One parquet file of Confluent-framed records per topic partition;
    returns the total bytes written."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    msgs = avro_messages(events)
    total = 0
    for p in range(partitions):
        idx = [i for i, e in enumerate(events) if e.partition == p]
        table = pa.table(
            {
                "topic": pa.array([TOPIC] * len(idx), pa.string()),
                "partition": pa.array([p] * len(idx), pa.int32()),
                "offset": pa.array([events[i].offset for i in idx], pa.int64()),
                "value": pa.array([msgs[i] for i in idx], pa.binary()),
            }
        )
        path = os.path.join(out_dir, f"part-{p:03d}.parquet")
        pq.write_table(table, path, compression="snappy")
        total += os.path.getsize(path)
    return total
