"""Order- and engine-neutral result digest; the Python twin of
graftbench/src/main/scala/graftbench/Digest.scala (see there for the
encoding). Used to turn DuckDB oracle results into goldens."""
import datetime
import decimal
import hashlib
import math
import struct

EXACT = 2.0 ** 53
EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_DATE = datetime.date(1970, 1, 1)


def number(d):
    d = float(d)
    if math.isnan(d):
        return "f:nan"
    if not math.isinf(d) and d.is_integer() and abs(d) < EXACT:
        return f"i:{int(d)}"
    return "f:%016x" % struct.unpack(">Q", struct.pack(">d", d))[0]


def cell(v):
    if v is None:
        return "n"
    if isinstance(v, bool):
        return "b:1" if v else "b:0"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, (float, decimal.Decimal)):
        return number(v)
    if isinstance(v, str):
        return "s:" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        delta = v - EPOCH
        return f"t:{(delta.days * 86400 + delta.seconds) * 1_000_000 + delta.microseconds}"
    if isinstance(v, datetime.date):
        return f"d:{(v - EPOCH_DATE).days}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    if isinstance(v, dict):
        return "(" + ",".join(cell(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    return "?:" + str(v)


def digest(columns, rows):
    """(digest, row count, encoded bytes) of a result given its column
    names and row tuples."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    header = "\u0001".join(columns[i] for i in order)
    enc = sorted("\u0001".join(cell(r[i]) for i in order).encode() for r in rows)
    h = hashlib.sha256(header.encode())
    for e in enc:
        h.update(b"\n")
        h.update(e)
    return h.hexdigest(), len(rows), sum(len(e) for e in enc)
