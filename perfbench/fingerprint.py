"""Python twin of the harness's result fingerprint (Fingerprint.scala).

Every row is rendered to a canonical string, floating values rounded to
DIGITS significant digits, hashed with SHA-256; the first 8 bytes of each
row hash are summed mod 2**64. Equal multisets of rows give equal
fingerprints in both implementations.
"""
import datetime as dt
import decimal
import hashlib
import math

DIGITS = 9
_CTX = decimal.Context(prec=DIGITS, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = dt.datetime(1970, 1, 1)
_EPOCH_TZ = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _number(d):
    r = _CTX.plus(d)
    if r.is_zero():
        return "f0e0"
    sign, digits, exp = r.normalize(_CTX).as_tuple()
    unscaled = int("".join(map(str, digits))) * (-1 if sign else 1)
    return f"f{unscaled}e{exp}"


def value(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return f"i{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "fNaN"
        if math.isinf(v):
            return "fInf" if v > 0 else "f-Inf"
        return _number(decimal.Decimal(v))
    if isinstance(v, decimal.Decimal):
        return _number(v)
    if isinstance(v, str):
        return "s" + v
    if isinstance(v, dt.datetime):
        base = _EPOCH_TZ if v.tzinfo else _EPOCH
        return f"t{(v - base) // dt.timedelta(microseconds=1)}"
    if isinstance(v, dt.date):
        return f"d{(v - dt.date(1970, 1, 1)).days}"
    if isinstance(v, dt.timedelta):
        return f"u{v // dt.timedelta(microseconds=1)}"
    if isinstance(v, (bytes, bytearray)):
        return "b" + v.hex()
    if isinstance(v, dict):
        return "(" + "\u001e".join(value(x) for x in v.values()) + ")"
    if isinstance(v, (list, tuple)):
        return "[" + "\u001e".join(value(x) for x in v) + "]"
    return "o" + str(v)


def row_string(row):
    return "\u001f".join(value(v) for v in row)


def row_hash(s):
    return int.from_bytes(hashlib.sha256(s.encode("utf-8")).digest()[:8], "big")


def of(rows):
    """{"rows": n, "hash": 16 hex digits} of an iterable of row tuples."""
    total = n = 0
    for r in rows:
        total = (total + row_hash(row_string(r))) % (1 << 64)
        n += 1
    return {"rows": n, "hash": f"{total:016x}"}
