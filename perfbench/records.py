"""Seeded Firehose record generator, in pure Python.

Builds the records a Firehose delivery stream hands to its transform:
``(idx, record_id, data)`` with ``data = base64(gzip(json))`` of a
CloudWatch Logs envelope. It uses only gzip, base64, json and pyarrow and
never builds a Spark DataFrame, so generating load does not compete with
the executor it measures.

The mix is the package's own record fixture (``synthesize_records`` in
``operators/firehose.py``, FIXTURES.md §B), drawn at random instead of by
``rec_no`` arithmetic, plus corrupt records the fixture lacks:

- ``bare``: a bare JSON string, the form of re-ingested records, one in
  ``BARE_MOD``;
- ``control``: a CONTROL_MESSAGE envelope with no log events, one in
  ``CTRL_MOD`` of the rest;
- ``corrupt_b64``, ``corrupt_gzip``: a ``data`` field that is not base64,
  or base64 over bytes that are not (or are truncated) gzip;
  ``CORRUPT_SHARE`` together;
- ``data``: the rest, DATA_MESSAGE envelopes of ``EVENTS_PER_RECORD`` ±
  half log events each. A message is ``"<event_type> <props>"`` from the
  events table's value domain (13–18 characters), with ``Hello `` in
  front of one in ``HELLO_ONE_IN``.
"""

from __future__ import annotations

import base64
import gzip
import json
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from ex_aws_firehose_spark.operators.firehose import (
    BARE_MOD,
    CTRL_MOD,
    EVENTS_PER_RECORD,
    LOG_GROUP,
    LOG_STREAM,
    OWNER,
    SUBSCRIPTION_FILTER,
)
from tables import EVENT_TYPES

# The fixture prefixes "Hello " to the message of every seventh event
# (_message_col in operators/firehose.py).
HELLO_ONE_IN = 7
# The fixture has no corrupt records. One in fifty exercises the
# dead-letter path on every file without moving the per-record cost much.
CORRUPT_SHARE = 0.02

KINDS = ("data", "control", "bare", "corrupt_b64", "corrupt_gzip")
_BARE = 1 / BARE_MOD
_CONTROL = (1 - _BARE) / CTRL_MOD

ARROW_SCHEMA = pa.schema(
    [("idx", pa.int64()), ("record_id", pa.string()), ("data", pa.string())]
)


@dataclass(frozen=True)
class Record:
    idx: int
    record_id: str
    data: str
    kind: str
    events: int  # log events in the envelope; 0 for every other kind


def _kind(rng: random.Random) -> str:
    u = rng.random()
    if u < _BARE:
        return "bare"
    if u < _BARE + _CONTROL:
        return "control"
    if u < _BARE + _CONTROL + CORRUPT_SHARE / 2:
        return "corrupt_b64"
    if u < _BARE + _CONTROL + CORRUPT_SHARE:
        return "corrupt_gzip"
    return "data"


def _message(rng: random.Random) -> str:
    msg = f'{rng.choice(EVENT_TYPES)} {{"k": {rng.randrange(100)}}}'
    return "Hello " + msg if rng.randrange(HELLO_ONE_IN) == 0 else msg


def _envelope(message_type: str, events: list[dict]) -> dict:
    return {
        "messageType": message_type,
        "owner": OWNER,
        "logGroup": LOG_GROUP,
        "logStream": LOG_STREAM,
        "subscriptionFilters": [SUBSCRIPTION_FILTER],
        "logEvents": events,
    }


def _b64gz(text: str) -> str:
    return base64.b64encode(gzip.compress(text.encode("utf-8"), 6, mtime=0)).decode("ascii")


def make_record(rng: random.Random, idx: int, ts_ms: int) -> Record:
    """One record of a randomly drawn kind. ``ts_ms`` stamps every log
    event (the time the record was due to be sent)."""
    kind = _kind(rng)
    n_events = 0
    if kind == "data":
        n_events = rng.randint(EVENTS_PER_RECORD // 2, EVENTS_PER_RECORD * 3 // 2)
        events = [
            {"id": f"{idx:048d}{j:08d}", "timestamp": ts_ms, "message": _message(rng)}
            for j in range(n_events)
        ]
        data = _b64gz(json.dumps(_envelope("DATA_MESSAGE", events)))
    elif kind == "control":
        data = _b64gz(json.dumps(_envelope("CONTROL_MESSAGE", [])))
    elif kind == "bare":
        data = _b64gz(json.dumps(f"reingested-{idx}"))
    elif kind == "corrupt_b64":
        data = "!!" + "".join(rng.choice("*#%&") for _ in range(rng.randint(8, 40))) + "=="
    else:
        good = gzip.compress(b'{"messageType": "DATA_MESSAGE"}', 6, mtime=0)
        # Truncated gzip, or bytes whose first byte rules out the gzip magic.
        if rng.random() < 0.5:
            junk = good[: rng.randint(10, len(good) - 1)]
        else:
            junk = b"\x00" + rng.randbytes(23)
        data = base64.b64encode(junk).decode("ascii")
    return Record(idx, f"rec-{idx:010d}", data, kind, n_events)


def make_records(rng: random.Random, first_idx: int, n: int, ts_ms: int) -> list[Record]:
    """``n`` records with consecutive idx from ``first_idx``: idx is unique
    across a run, as the pipeline's per-batch route join requires."""
    return [make_record(rng, first_idx + i, ts_ms) for i in range(n)]


def replicate(rng: random.Random, distinct: list[Record], first_idx: int, n: int) -> list[Record]:
    """``n`` records with consecutive idx whose payloads are drawn from
    ``distinct``: a large backlog at the cost of a small one."""
    return [
        Record(first_idx + i, f"rec-{first_idx + i:010d}", base.data, base.kind, base.events)
        for i, base in enumerate(rng.choices(distinct, k=n))
    ]


def write_parquet(path: str, records: list[Record]) -> int:
    """Write records with the pipeline's source schema; returns bytes of
    base64 ``data`` written."""
    table = pa.table(
        {
            "idx": [r.idx for r in records],
            "record_id": [r.record_id for r in records],
            "data": [r.data for r in records],
        },
        schema=ARROW_SCHEMA,
    )
    pq.write_table(table, path)
    return sum(len(r.data) for r in records)
