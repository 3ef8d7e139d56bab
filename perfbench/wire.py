"""The benchmark's own Avro wire code for the transaction stream.

The schemas here are the reference pipeline's *wire* schemas
(``Transaction.avsc`` / ``ApprovedTransaction.avsc``: timestamps are
``timestamp-millis``). They are written out by hand rather than derived from
the engine's catalog, whose ``struct_to_avro`` emits ``timestamp-micros``.

``TxnEncoder`` is a fixed-schema encoder: every record is assembled from
pre-encoded field fragments, so a generator can stamp due times into
payloads at publish time without re-encoding the other fields.
``approved_prefix`` renders the expected sink payload up to (not including)
``processingTimestamp``, which the output check compares byte for byte.
"""

from __future__ import annotations

import json
import struct

SCHEMA_ID = 1
CONFLUENT_HEADER = b"\x00" + struct.pack(">I", SCHEMA_ID)

TX_AVSC = {
    "type": "record",
    "name": "Transaction",
    "namespace": "bench",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "amount", "type": "double"},
        {"name": "currency", "type": "string"},
        {"name": "timestamp",
         "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "description", "type": ["null", "string"], "default": None},
        {"name": "merchant", "type": "string"},
        {"name": "category", "type": ["null", "string"], "default": None},
        {"name": "status", "type": "string"},
        {"name": "userId", "type": "string"},
        {"name": "metadata",
         "type": ["null", {"type": "map", "values": "string"}],
         "default": None},
    ],
}

APPROVED_AVSC = {
    "type": "record",
    "name": "ApprovedTransaction",
    "namespace": "bench",
    "fields": [
        {"name": "id", "type": "string"},
        {"name": "amount", "type": "double"},
        {"name": "currency", "type": "string"},
        {"name": "timestamp",
         "type": {"type": "long", "logicalType": "timestamp-millis"}},
        {"name": "merchant", "type": "string"},
        {"name": "userId", "type": "string"},
        {"name": "amountInUsd", "type": "double"},
        {"name": "processingTimestamp",
         "type": {"type": "long", "logicalType": "timestamp-millis"}},
    ],
}

TX_AVSC_JSON = json.dumps(TX_AVSC)
APPROVED_AVSC_JSON = json.dumps(APPROVED_AVSC)

_PACK_D = struct.Struct("<d").pack


def varint(n: int) -> bytes:
    """Avro long: zigzag, then unsigned LEB128."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while z > 0x7F:
        out.append((z & 0x7F) | 0x80)
        z >>= 7
    out.append(z)
    return bytes(out)


def read_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift = 0
    z = 0
    while True:
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if b < 0x80:
            break
        shift += 7
    return (z >> 1) ^ -(z & 1), pos


_SMALL = [varint(i) for i in range(1024)]


def avro_str(s: str) -> bytes:
    b = s.encode()
    n = len(b)
    return (_SMALL[n] if n < 1024 else varint(n)) + b


def _opt_str(s: str | None) -> bytes:
    return b"\x00" if s is None else b"\x02" + avro_str(s)


def _opt_map(m: dict[str, str] | None) -> bytes:
    if m is None:
        return b"\x00"
    if not m:
        return b"\x02\x00"
    body = b"".join(avro_str(k) + avro_str(v) for k, v in m.items())
    return b"\x02" + varint(len(m)) + body + b"\x00"


class TxnEncoder:
    """Confluent-framed ``Transaction`` payloads from column lists.

    ``head[i]`` holds the header and the fields before ``timestamp``;
    ``tail[i]`` the fields after it. ``payload(i, ts_ms)`` joins them."""

    def __init__(self, ids, amounts, currencies, descriptions, merchants,
                 categories, statuses, users, metadata):
        enc: dict[str, bytes] = {}

        def cached(s: str) -> bytes:
            b = enc.get(s)
            if b is None:
                b = enc[s] = avro_str(s)
            return b

        maps: dict[tuple, bytes] = {}

        def cached_map(m) -> bytes:
            key = None if m is None else tuple(m.items())
            b = maps.get(key)
            if b is None:
                b = maps[key] = _opt_map(m)
            return b

        self.head = [
            CONFLUENT_HEADER + avro_str(i) + _PACK_D(a) + cached(c)
            for i, a, c in zip(ids, amounts, currencies)
        ]
        self.tail = [
            _opt_str(d) + cached(m) + (b"\x00" if c is None
                                       else b"\x02" + cached(c))
            + cached(s) + cached(u) + cached_map(md)
            for d, m, c, s, u, md in zip(descriptions, merchants, categories,
                                         statuses, users, metadata)
        ]

    def payload(self, i: int, ts_ms: int) -> bytes:
        return self.head[i] + varint(ts_ms) + self.tail[i]


def approved_prefix(id_: str, amount: float, currency: str, ts_ms: int,
                    merchant: str, user: str, amount_usd: float) -> bytes:
    """Expected unframed ``ApprovedTransaction`` bytes before the trailing
    ``processingTimestamp`` long."""
    return (avro_str(id_) + _PACK_D(amount) + avro_str(currency)
            + varint(ts_ms) + avro_str(merchant) + avro_str(user)
            + _PACK_D(amount_usd))


def leading_string(buf: bytes) -> tuple[str, int]:
    """Decode the first Avro string field; returns it and the next offset."""
    n, pos = read_varint(buf, 0)
    return buf[pos:pos + n].decode(), pos + n


def processing_ts(buf: bytes, prefix_len: int) -> int:
    """``processingTimestamp`` of a sink payload whose prefix is known to be
    ``prefix_len`` bytes long; raises on a truncated or overlong payload."""
    val, end = read_varint(buf, prefix_len)
    if end != len(buf):
        raise ValueError("trailing bytes after processingTimestamp")
    return val
