"""Seeded input generators and the independent oracles the benchmark checks
the engine against.

Everything here is pure Python and depends on ``cdc_worker_spark`` only for
the public wire helpers (``sources.streams.make_wire_envelope``,
``functions.avro_codec``), so the same seed always yields the same bytes and
the oracles share no code with the engine paths they verify.

CDC streams plant, per the reference worker's delivery contract:

- corrupt payloads (dead-lettered, never merged);
- redelivered replay ids (an identical copy of an earlier event, later in
  wire order);
- DELETEs, some followed in wire order by a *late* UPDATE stamped before
  the DELETE (it must lose to the tombstone, never resurrect the key);
- commit timestamps out of order by up to ``OOO_MS`` — well inside the
  pipeline's 1 h watermark, so nothing is dropped as late, while the
  stream's commit_ts span is several hours so the dedup watermark evicts.
"""

from __future__ import annotations

import base64
import json
import random
from dataclasses import dataclass, field

ENTITY = "Account"
SCHEMA_ID = "account-cdc-v1"
#: first commit timestamp of every generated stream (epoch ms)
BASE_TS_MS = 1_696_444_513_000
#: maximum backwards jitter of an event's commit_ts (5 min << 1 h watermark)
OOO_MS = 300_000

_CITIES = ["Lagos", "Quito", "Oslo", "Pune", "Lima", "Accra", "Hanoi", "Porto",
           "Cusco", "Dakar", "Turin", "Kyoto", "Perth", "Split", "Tunis", "Davao"]
_STATES = ["CA", "NY", "TX", "WA", "OR", "MA", "IL", "GA"]
_INDUSTRIES = ["Energy", "Retail", "Banking", "Media", "Biotech", "Shipping"]
#: changed-field bitmaps over ACCOUNT_FIELDS (bit 1 Name, 4 BillingAddress
#: with child bits City/State, 12 AnnualRevenue, 22 LastModifiedDate)
_BITMAPS = [["0x400002"], ["0x400000", "4-0x6"], ["0x401000"], ["0x401002", "4-0x2"]]


@dataclass
class CdcEvent:
    """One logical change event, before wire encoding."""

    replay_id: int
    key: str
    change_type: str
    commit_ts: int
    name: str | None = None
    city: str | None = None
    revenue: float | None = None
    corrupt: bool = False

    def payload(self) -> dict:
        deleted = self.change_type == "DELETE"
        return {
            "ChangeEventHeader": {
                "entityName": ENTITY,
                "recordIds": [self.key],
                "changeType": self.change_type,
                "changeOrigin": "com/salesforce/api/soap/58.0;client=perfbench",
                "transactionKey": f"txn-{self.replay_id:012x}",
                "sequenceNumber": 1,
                "commitTimestamp": self.commit_ts,
                "commitNumber": 11_657_372_702_432 + self.replay_id,
                "commitUser": "00558000000yFyDAAU",
                "nulledFields": [],
                "diffFields": [],
                "changedFields": [] if deleted else _BITMAPS[self.replay_id % len(_BITMAPS)],
            },
            "Name": self.name,
            "BillingAddress": None if deleted else {
                "City": self.city, "State": _STATES[self.replay_id % len(_STATES)]},
            "AnnualRevenue": self.revenue,
            "NumberOfEmployees": None if deleted else self.replay_id % 5000,
            "Industry": None if deleted else _INDUSTRIES[self.replay_id % len(_INDUSTRIES)],
            "LastModifiedDate": self.commit_ts,
        }


@dataclass
class CdcStream:
    """A generated stream: wire-ordered files of events plus what was planted."""

    files: list[list[CdcEvent]]
    planted: dict = field(default_factory=dict)

    @property
    def events(self) -> list[CdcEvent]:
        return [e for f in self.files for e in f]


def _value_event(rng: random.Random, rid: int, key: str, ctype: str, ts: int) -> CdcEvent:
    if ctype == "DELETE":
        return CdcEvent(rid, key, ctype, ts)
    return CdcEvent(rid, key, ctype, ts, name=f"Acct {key} r{rid}",
                    city=rng.choice(_CITIES), revenue=rng.randrange(10_000, 9_000_000) / 4)


def cdc_drain_stream(seed: int, n_events: int, n_keys: int, n_files: int,
                     span_ms: int = 3 * 3600 * 1000) -> CdcStream:
    """Backlogged stream over a uniform key space of ``n_keys``: about 1%
    corrupt, 1% redelivered, 5% DELETE (a fifth of them chased by a late
    pre-delete UPDATE), commit_ts jittered back by up to ``OOO_MS``."""
    rng = random.Random(seed)
    step = span_ms / n_events
    wire: list[CdcEvent] = []
    late_updates: list[tuple[int, CdcEvent]] = []  # (emit at position, event)
    planted = {"corrupt": 0, "redelivered": 0, "deletes": 0, "late_pre_delete_updates": 0}
    rid = 1_000_000
    for i in range(n_events):
        while late_updates and late_updates[0][0] <= i:
            wire.append(late_updates.pop(0)[1])
        ts = BASE_TS_MS + int(i * step) - rng.randrange(OOO_MS)
        key = f"K{rng.randrange(n_keys):07d}"
        r = rng.random()
        if r < 0.01:
            wire.append(CdcEvent(rid, key, "UPDATE", ts, corrupt=True))
            planted["corrupt"] += 1
        elif r < 0.02 and len(wire) > 100:
            prior = wire[-rng.randrange(1, 100)]
            if not prior.corrupt:
                wire.append(prior)  # redelivery: same replay id and payload
                planted["redelivered"] += 1
            continue
        elif r < 0.07:
            wire.append(_value_event(rng, rid, key, "DELETE", ts))
            planted["deletes"] += 1
            if rng.random() < 0.2:
                # a late UPDATE stamped 1 min before the DELETE, 50 events later
                rid += 1
                late = _value_event(rng, rid, key, "UPDATE", ts - 60_000)
                late_updates.append((i + 50, late))
                planted["late_pre_delete_updates"] += 1
        else:
            wire.append(_value_event(rng, rid, key, "CREATE" if r > 0.97 else "UPDATE", ts))
        rid += 1
    wire.extend(e for _, e in late_updates)
    per = -(-len(wire) // n_files)
    return CdcStream([wire[k:k + per] for k in range(0, len(wire), per)], planted)


def zipf_keys(n_keys: int, s: float = 1.2) -> tuple[list[str], list[float]]:
    weights = [1.0 / (k + 1) ** s for k in range(n_keys)]
    return [f"H{k:04d}" for k in range(n_keys)], weights


def cdc_paced_file(seed: int, index: int, events_per_file: int, ts_ms: int,
                   n_keys: int = 64) -> list[CdcEvent]:
    """File ``index`` of the paced stream: ``events_per_file`` events on a
    small Zipf hot-key set, every event stamped with the file's scheduled
    publish time ``ts_ms``; about 1% corrupt, 5% DELETE."""
    rng = random.Random(seed * 1_000_003 + index)
    keys, weights = zipf_keys(n_keys)
    out = []
    rid0 = 10_000_000 + index * events_per_file
    for j in range(events_per_file):
        rid = rid0 + j
        key = rng.choices(keys, weights)[0]
        r = rng.random()
        if r < 0.01:
            out.append(CdcEvent(rid, key, "UPDATE", ts_ms, corrupt=True))
        else:
            out.append(_value_event(rng, rid, key, "DELETE" if r < 0.06 else "UPDATE", ts_ms))
    return out


# ------------------------------------------------------------------ wire


def json_wire_line(e: CdcEvent) -> str:
    from cdc_worker_spark.sources.streams import make_wire_envelope

    env = make_wire_envelope(e.replay_id, e.payload(), SCHEMA_ID)
    if e.corrupt:
        env["payload"] = "{not-json!" + env["payload"][:20]
    return json.dumps(env)


class AvroWire:
    """Avro-wire envelope lines (``codec="avro"``): the payload is the Avro
    binary encoding against the writer schema derived from the engine's
    payload StructType, base64-framed in the JSON line."""

    #: a union branch index past the end of ["null", record]: no decoder
    #: can read it, so a corrupt payload always fails decode
    CORRUPT = b"\x04\x00\x00"

    def __init__(self) -> None:
        from cdc_worker_spark.functions.avro_codec import parse_schema
        from cdc_worker_spark.streaming.envelope import account_payload_schema, avro_schema_json

        self.schema = parse_schema(avro_schema_json(account_payload_schema()))

    def line(self, e: CdcEvent) -> str:
        from cdc_worker_spark.functions.avro_codec import encode
        from cdc_worker_spark.functions.offsets import encode_replay_id

        payload = self.CORRUPT if e.corrupt else encode(e.payload(), self.schema)
        return json.dumps({
            "replay_id_b64": base64.b64encode(encode_replay_id(e.replay_id)).decode(),
            "schema_id": SCHEMA_ID,
            "payload_b64": base64.b64encode(payload).decode(),
        })


def file_bytes(lines: list[str]) -> bytes:
    return ("\n".join(lines) + "\n").encode()


# ---------------------------------------------------------------- oracle


def latest_wins_oracle(events: list[CdcEvent]) -> dict[str, CdcEvent]:
    """Live state the reference worker would hold after applying
    ``events``: per key the event with the greatest (commit_ts, replay_id)
    among decodable events, and no entry when that event is a DELETE.
    Redelivered copies are identical, so they cannot change the outcome."""
    best: dict[str, CdcEvent] = {}
    for e in events:
        if e.corrupt:
            continue
        cur = best.get(e.key)
        if cur is None or (e.commit_ts, e.replay_id) > (cur.commit_ts, cur.replay_id):
            best[e.key] = e
    return {k: e for k, e in best.items() if e.change_type != "DELETE"}


def state_row(e: CdcEvent) -> tuple:
    """The comparable projection of one live state row."""
    return (e.key, e.replay_id, e.commit_ts, e.change_type, e.name, e.city, e.revenue)
