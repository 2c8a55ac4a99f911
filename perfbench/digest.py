"""Order-insensitive, type-canonical result digest (Python side).

The same function as `Digest` in scala/Support.scala, over the values
DuckDB and the ground truth produce. See that file for the tag grammar.
"""
import datetime
import decimal
import hashlib

_CTX = decimal.Context(prec=10, rounding=decimal.ROUND_HALF_EVEN)
_EPOCH = datetime.datetime(1970, 1, 1)


def _dec(d):
    if d == 0:
        return "0"
    return format(_CTX.plus(d).normalize(_CTX), "f")


def num(x):
    if x != x:
        return "nan"
    if x in (float("inf"), float("-inf")):
        return "inf" if x > 0 else "-inf"
    if x == 0:
        return "0"
    return _dec(decimal.Decimal(x))


def canon(v, is_map=False):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "b1" if v else "b0"
    if isinstance(v, int):
        return "i%d" % v
    if isinstance(v, float):
        return "f" + num(v)
    if isinstance(v, decimal.Decimal):
        return "d" + _dec(v)
    if isinstance(v, str):
        return "s%d:%s" % (len(v.encode("utf-8")), v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return "t%d" % ((d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds)
    if isinstance(v, datetime.date):
        return "D%d" % (v - _EPOCH.date()).days
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x" + bytes(v).hex()
    if isinstance(v, dict):
        if is_map:
            return "<" + ",".join(sorted(canon(k) + ":" + canon(x)
                                         for k, x in v.items())) + ">"
        return "{" + ",".join(canon(x) for x in v.values()) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    return "?" + str(v)


def md5(s):
    return hashlib.md5(s.encode("utf-8")).hexdigest()


def of(columns, rows, map_columns=()):
    """Digest of `rows` (sequences aligned with `columns`)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        md5("|".join(columns[i] + "=" + canon(r[i], columns[i] in map_columns)
                     for i in order))
        for r in rows)
    return md5("\n".join(lines))
