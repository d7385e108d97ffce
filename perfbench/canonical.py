"""Order-insensitive result digests, byte-identical to the JVM's
`graft.perfbench.Digest`: columns sorted by name, each value encoded
with a type tag, rows sorted by their UTF-8 bytes, SHA-256 over the
header and the rows."""
import datetime
import decimal
import hashlib
import math
import struct

_EPOCH = datetime.datetime(1970, 1, 1)
_EPOCH_DATE = datetime.date(1970, 1, 1)


def _micros(ts):
    if ts.tzinfo is not None:
        ts = ts.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    d = ts - _EPOCH
    return (d.days * 86_400 + d.seconds) * 1_000_000 + d.microseconds


def encode(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "B1" if v else "B0"
    if isinstance(v, int):
        return f"I{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "FNaN"
        return "F%d" % struct.unpack("<q", struct.pack("<d", v + 0.0 if v else 0.0))[0]
    if isinstance(v, str):
        return f"S{len(v.encode('utf-16-le')) // 2}:{v}"
    if isinstance(v, datetime.datetime):
        return f"T{_micros(v)}"
    if isinstance(v, datetime.date):
        return f"D{(v - _EPOCH_DATE).days}"
    if isinstance(v, decimal.Decimal):
        t = format(v.normalize(), "f")
        return "X" + ("0" if t in ("-0", "") else t)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "H" + bytes(v).hex()
    if isinstance(v, dict):
        return "(" + ",".join(encode(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(encode(x) for x in v) + "]"
    return "?" + str(v)


def digest(names, rows):
    """Hex SHA-256 of `rows` (sequences aligned with `names`)."""
    order = sorted(range(len(names)), key=lambda i: names[i].encode())
    lines = sorted("\x1f".join(encode(r[i]) for i in order).encode()
                   for r in rows)
    h = hashlib.sha256("\x1f".join(names[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line)
    return h.hexdigest()
