"""Iceberg single-value binary serialization for column bounds
(public spec Appendix D) + range-overlap tests for zone-map file
skipping.

The reference declares these fields in its full Avro codegen but reads
none of them (reference avro_codegen/iceberg_manifest_entry_full.hpp:
327-328 unused; SURVEY.md §4 "min/max file skipping: NOT implemented").
We write them from parquet footer stats and prune files with them.
"""

from __future__ import annotations

import datetime
import struct
from typing import Any, Optional

from pyspark.sql import types as T

_EPOCH_DATE = datetime.date(1970, 1, 1)
_EPOCH_TS = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)


def serialize_bound(v: Any, dt: T.DataType) -> Optional[bytes]:
    if v is None:
        return None
    if isinstance(dt, T.BooleanType):
        return b"\x01" if v else b"\x00"
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return struct.pack("<i", int(v))
    if isinstance(dt, T.LongType):
        return struct.pack("<q", int(v))
    if isinstance(dt, T.FloatType):
        return struct.pack("<f", float(v))
    if isinstance(dt, T.DoubleType):
        return struct.pack("<d", float(v))
    if isinstance(dt, T.DateType):
        if isinstance(v, datetime.date):
            v = (v - _EPOCH_DATE).days
        return struct.pack("<i", int(v))
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        if isinstance(v, datetime.datetime):
            if v.tzinfo is None:
                v = v.replace(tzinfo=datetime.timezone.utc)
            v = int((v - _EPOCH_TS).total_seconds() * 1_000_000)
        return struct.pack("<q", int(v))
    if isinstance(dt, T.StringType):
        s = v.decode("utf-8", "replace") if isinstance(v, bytes) else str(v)
        return s.encode("utf-8")
    if isinstance(dt, T.BinaryType):
        return bytes(v)
    if isinstance(dt, T.DecimalType):
        unscaled = int(v.scaleb(dt.scale)) if hasattr(v, "scaleb") else int(v)
        n = max(1, (unscaled.bit_length() + 8) // 8)
        return unscaled.to_bytes(n, "big", signed=True)
    return None  # nested/unsupported: no bound


def deserialize_bound(b: Optional[bytes], dt: T.DataType) -> Any:
    if b is None:
        return None
    if isinstance(dt, T.BooleanType):
        return b == b"\x01"
    if isinstance(dt, (T.IntegerType, T.ShortType, T.ByteType)):
        return struct.unpack("<i", b)[0]
    if isinstance(dt, T.LongType):
        return struct.unpack("<q", b)[0]
    if isinstance(dt, T.FloatType):
        return struct.unpack("<f", b)[0]
    if isinstance(dt, T.DoubleType):
        return struct.unpack("<d", b)[0]
    if isinstance(dt, T.DateType):
        return _EPOCH_DATE + datetime.timedelta(days=struct.unpack("<i", b)[0])
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return _EPOCH_TS + datetime.timedelta(microseconds=struct.unpack("<q", b)[0])
    if isinstance(dt, T.StringType):
        return b.decode("utf-8", "replace")
    if isinstance(dt, T.BinaryType):
        return b
    if isinstance(dt, T.DecimalType):
        import decimal

        return decimal.Decimal(int.from_bytes(b, "big", signed=True)).scaleb(-dt.scale)
    return None


def _canon(v: Any, dt: T.DataType) -> Any:
    """Literal → comparable domain of deserialize_bound output."""
    if isinstance(dt, T.DateType) and isinstance(v, str):
        return datetime.date.fromisoformat(v)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        if isinstance(v, str):
            v = datetime.datetime.fromisoformat(v)
        if isinstance(v, datetime.datetime) and v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        return v
    return v


def range_overlaps(
    lower: Optional[bytes],
    upper: Optional[bytes],
    lo: Any,
    hi: Any,
    dt: T.DataType,
    lo_strict: bool = False,
    hi_strict: bool = False,
) -> bool:
    """True iff [file_lower, file_upper] may intersect the requested
    interval (None = unbounded on that side; a strict flag makes that
    end exclusive, so e.g. ``col < '1998-01-01'`` drops a file whose
    lower bound IS 1998-01-01). Missing stats → must keep."""
    fl = deserialize_bound(lower, dt)
    fu = deserialize_bound(upper, dt)
    lo = _canon(lo, dt) if lo is not None else None
    hi = _canon(hi, dt) if hi is not None else None
    if hi is not None and fl is not None and (fl > hi or (hi_strict and fl == hi)):
        return False
    if lo is not None and fu is not None and (fu < lo or (lo_strict and fu == lo)):
        return False
    return True


def range_implied(
    lower: Optional[bytes],
    upper: Optional[bytes],
    lo: Any,
    hi: Any,
    dt: T.DataType,
    lo_strict: bool = False,
    hi_strict: bool = False,
) -> bool:
    """True iff [file_lower, file_upper] PROVES every (non-null) value
    lies in the interval that range_overlaps tests — its dual, used to
    drop a residual row filter after manifest pruning (callers must
    separately prove the column has zero nulls in the file; bounds say
    nothing about nulls, and must not trust float bounds, which leave
    NaN out). A missing bound on a side the interval closes → False."""
    fl = deserialize_bound(lower, dt)
    fu = deserialize_bound(upper, dt)
    if lo is not None:
        lo = _canon(lo, dt)
        if fl is None or fl < lo or (lo_strict and fl == lo):
            return False
    if hi is not None:
        hi = _canon(hi, dt)
        if fu is None or fu > hi or (hi_strict and fu == hi):
            return False
    return True
