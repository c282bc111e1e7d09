"""Canonical text digest of a result, the Python twin of the runner's
`graftbench.Canon`: columns sorted by name; integral numbers as integers
and other doubles by their bits (decimals compared as doubles, as
`tools/check.py` does); timestamps as epoch microseconds (naive ones
read as UTC), dates as epoch days."""
import datetime
import decimal
import hashlib
import math
import struct

EPOCH = datetime.datetime(1970, 1, 1)
EPOCH_DAY = datetime.date(1970, 1, 1)


def _num(d):
    if math.isnan(d):
        return "NaN"
    if d == math.floor(d) and abs(d) < 1e15:
        return "i%d" % int(d)
    return "f" + format(struct.unpack(">Q", struct.pack(">d", d))[0], "x")


def tok(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        return _num(v)
    if isinstance(v, decimal.Decimal):
        return _num(float(v))
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "t%d" % ((v - EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "d%d" % (v - EPOCH_DAY).days
    if isinstance(v, (bytes, bytearray)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        return "{" + ",".join(tok(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(tok(x) for x in v) + "]"
    return "?" + str(v)


def digest(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    h = hashlib.sha256()
    h.update((",".join(names[i] for i in order) + "\n").encode())
    for r in rows:
        h.update(("\u0001".join(tok(r[i]) for i in order) + "\n").encode())
    return h.hexdigest()
