"""Pure-Python model of the reference Lambda transform.

One record in, one processor result out, following the reference's
``lambda/main.py``: decode (base64 → gzip → utf-8 → JSON), the three-way
dispatch (a bare JSON string is re-ingested data and passes through Ok; a
non-DATA_MESSAGE envelope is ProcessingFailed; a DATA_MESSAGE has every
event rewritten by ``transformLogEvent`` and the results concatenated),
plus the pipeline's dead-letter rule: a record that does not decode is
ProcessingFailed.

The stream workloads check their sinks against this model, record by
record, so a sink is judged without running Spark a second time.
"""

from __future__ import annotations

import base64
import binascii
import gzip
import json
import zlib
from dataclasses import dataclass


@dataclass(frozen=True)
class Expected:
    result: str  # "Ok" | "ProcessingFailed"
    payload: str | None


FAILED = Expected("ProcessingFailed", None)


def transform_log_event(message: str) -> str:
    """The reference's per-event transform."""
    return message.replace("Hello", "Hell Yeah") + "\n"


def process(data: str) -> Expected:
    """The processor result for one record's ``data`` field."""
    try:
        raw = gzip.decompress(base64.b64decode(data, validate=True))
        text = raw.decode("utf-8")
    except (binascii.Error, OSError, EOFError, zlib.error, UnicodeDecodeError):
        return FAILED
    if text.startswith('"'):
        return Expected("Ok", json.loads(text))
    try:
        envelope = json.loads(text)
    except json.JSONDecodeError:
        return FAILED
    if not isinstance(envelope, dict) or envelope.get("messageType") != "DATA_MESSAGE":
        return FAILED
    events = envelope.get("logEvents") or []
    return Expected("Ok", "".join(transform_log_event(e["message"]) for e in events))
