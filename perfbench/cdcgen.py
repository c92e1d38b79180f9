"""Seeded DynamoDB change-envelope generator and its fold oracle.

The benchmark owns its inputs: nothing here imports the program, so a
change to the program cannot change what the benchmark feeds it.

A stream is a list of waves; each wave is the list of NDJSON lines one
Firehose buffer would deliver. Events are generated as a valid history
per key (INSERT, then MODIFY*, then an optional REMOVE, possibly a
re-INSERT), in event-time order, then a few are delayed into the next
wave so they arrive out of order. About 1 % carry an event name the
transform does not know, which routes them to the error zone.

The oracle folds the events that have arrived in (event time, eventID)
order -- the same total order the snapshot merge uses -- so it holds
for any arrival order.
"""

from __future__ import annotations

import json
import random
from collections.abc import Iterator
from dataclasses import dataclass

#: attributes the lake projects (key first)
ATTRS = ("id", "name", "Designation", "salary", "active")

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
STEP_MS = 2_000  # event spacing: 1800 events per event-time hour
UNKNOWN_RATE = 0.01
LATE_RATE = 0.005
REMOVE_RATE = 0.08
DESIGNATIONS = (
    "Architect", "Sr. Architect", "Developer Advocate", "Engineer",
    "Sr. Engineer", "Manager", "Director", "Analyst",
)
NAMES = ("Adam", "Bea", "Cruz", "Dana", "Eli", "Faye", "Gus", "Hana")


@dataclass(frozen=True)
class Event:
    event_id: str
    name: str  # INSERT | MODIFY | REMOVE | unknown
    ts_ms: int
    key: tuple[str, str]
    attrs: dict[str, str]  # flattened image (new, or old for REMOVE)
    line: str


def _image(attrs: dict[str, str]) -> dict[str, dict[str, str]]:
    tags = {"salary": "N", "active": "BOOL"}
    return {a: {tags.get(a, "S"): v} for a, v in attrs.items()}


def _line(event_id, name, ts_ms, key, new, old) -> str:
    return json.dumps(
        {
            "eventID": event_id,
            "eventName": name,
            "dynamodb": {
                "ApproximateCreationDateTime": ts_ms / 1000,
                "Keys": {"id": {"S": key[0]}, "name": {"S": key[1]}},
                "NewImage": _image(new) if new is not None else None,
                "OldImage": _image(old) if old is not None else None,
            },
        },
        separators=(",", ":"),
    )


def generate(seed: int, wave_events: int, n_keys: int) -> Iterator[list[Event]]:
    """An endless stream of waves of about ``wave_events`` events over
    ``n_keys`` keys.

    Keys are skewed (a power law over a key space much larger than one
    wave), so a wave both revisits hot keys and inserts cold ones.
    Waves are produced on demand, so generation can be kept out of every
    timed interval.
    """
    rng = random.Random(seed)
    live: dict[tuple[str, str], dict[str, str]] = {}
    late: list[Event] = []
    i = 0
    while True:
        wave, carried = late, len(late)
        for _ in range(wave_events):
            wave.append(_event(rng, seed, i, n_keys, live))
            i += 1
        # a few events miss their buffer and arrive one wave late
        late = [e for e in wave[carried:] if rng.random() < LATE_RATE]
        ids = {e.event_id for e in late}
        yield [e for e in wave if e.event_id not in ids]


def _event(rng, seed, i, n_keys, live) -> Event:
    k = int(n_keys * rng.random() ** 2.5)
    key = (f"{k:07d}", NAMES[k % len(NAMES)])
    eid = f"ev-{seed:05d}-{i:09d}"
    ts_ms = T0_MS + STEP_MS * i + rng.randrange(STEP_MS // 2)
    cur = live.get(key)
    if rng.random() < UNKNOWN_RATE:
        # an event type the transform does not know: error zone
        img = cur or _attrs(rng, key)
        return Event(eid, "TTL_DELETE", ts_ms, key, img,
                     _line(eid, "TTL_DELETE", ts_ms, key, None, img))
    if cur is None:
        new = live[key] = _attrs(rng, key)
        return Event(eid, "INSERT", ts_ms, key, new,
                     _line(eid, "INSERT", ts_ms, key, new, None))
    if rng.random() < REMOVE_RATE:
        del live[key]
        return Event(eid, "REMOVE", ts_ms, key, cur,
                     _line(eid, "REMOVE", ts_ms, key, None, cur))
    new = live[key] = {**cur, "Designation": rng.choice(DESIGNATIONS),
                       "salary": _salary(rng)}
    return Event(eid, "MODIFY", ts_ms, key, new,
                 _line(eid, "MODIFY", ts_ms, key, new, cur))


def _salary(rng: random.Random) -> str:
    return f"{rng.randrange(40_000, 250_000)}.{rng.randrange(100):02d}"


def _attrs(rng: random.Random, key: tuple[str, str]) -> dict[str, str]:
    return {
        "id": key[0],
        "name": key[1],
        "Designation": rng.choice(DESIGNATIONS),
        "salary": _salary(rng),
        "active": "true" if rng.random() < 0.8 else "false",
    }


def is_known(e: Event) -> bool:
    return e.name in ("INSERT", "MODIFY", "REMOVE")


class Fold:
    """Latest state per key over the events seen so far, ordered by
    (event time, eventID); REMOVE leaves a tombstone so a late older
    event cannot resurrect its key."""

    def __init__(self) -> None:
        self._last: dict[tuple[str, str], tuple[tuple[int, str], Event]] = {}

    def add(self, events: list[Event]) -> None:
        for e in events:
            if not is_known(e):
                continue
            order = (e.ts_ms, e.event_id)
            prev = self._last.get(e.key)
            if prev is None or order > prev[0]:
                self._last[e.key] = (order, e)

    def live(self) -> dict[tuple[str, str], tuple[str, ...]]:
        """key -> projected attribute values, REMOVEd keys dropped."""
        return {
            k: tuple(e.attrs[a] for a in ATTRS)
            for k, (_, e) in self._last.items()
            if e.name != "REMOVE"
        }

    def stored(self) -> int:
        """Rows the snapshot keeps, tombstones included."""
        return len(self._last)
