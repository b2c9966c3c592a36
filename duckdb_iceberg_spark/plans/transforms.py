"""Iceberg partition transforms (public spec §Partition Transforms).

Each transform has two faces that MUST agree:
- a Spark Column expression used at write time to route rows to
  partition directories (JVM-side, vectorized — no Python in the row
  path except ``bucket``, which needs Iceberg's exact murmur3);
- a pure-Python evaluator used at read time to prune files from
  manifest partition values before the DataFrame is even constructed
  (the reference reads partition data but never prunes — SURVEY.md §4).
"""

from __future__ import annotations

import datetime
from typing import Any, Callable

from pyspark.sql import Column
from pyspark.sql import functions as F

from .bounds import _EPOCH_DATE as _EPOCH
from .bounds import _EPOCH_TS


def murmur3_32(data: bytes, seed: int = 0) -> int:
    """murmur3_x86_32 — Iceberg's bucket-transform hash."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed
    n = len(data) & ~3
    for i in range(0, n, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    tail = data[n:]
    if len(tail) >= 3:
        k ^= tail[2] << 16
    if len(tail) >= 2:
        k ^= tail[1] << 8
    if len(tail) >= 1:
        k ^= tail[0]
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def bucket_value(v: Any, n: int) -> int | None:
    """Iceberg bucket(N): (murmur3(encoded) & MAX_INT) % N.
    int/long/date/timestamp hash as 8-byte little-endian long (epoch
    days, epoch micros; a naive datetime is wall-clock time, hashed as
    if UTC, as Iceberg hashes a timestamp without zone); strings as
    UTF-8."""
    if v is None:
        return None
    if isinstance(v, datetime.datetime):
        v = ((v if v.tzinfo else v.replace(tzinfo=datetime.timezone.utc)) - _EPOCH_TS) // datetime.timedelta(microseconds=1)
    elif isinstance(v, datetime.date):
        v = (v - _EPOCH).days
    if isinstance(v, bool):
        raise ValueError("bucket transform not defined for boolean")
    if isinstance(v, int):
        data = (v & 0xFFFFFFFFFFFFFFFF).to_bytes(8, "little")
    elif isinstance(v, str):
        data = v.encode("utf-8")
    elif isinstance(v, bytes):
        data = v
    else:
        raise ValueError(f"bucket transform unsupported for {type(v)}")
    return (murmur3_32(data) & 0x7FFFFFFF) % n


def days_value(v: Any) -> int | None:
    if v is None:
        return None
    if isinstance(v, str):
        v = datetime.datetime.fromisoformat(v)
    if isinstance(v, datetime.datetime):
        v = v.date()
    return (v - _EPOCH).days


def months_value(v: Any) -> int | None:
    if v is None:
        return None
    if isinstance(v, str):
        v = datetime.datetime.fromisoformat(v)
    return (v.year - 1970) * 12 + (v.month - 1)


def years_value(v: Any) -> int | None:
    if v is None:
        return None
    if isinstance(v, str):
        v = datetime.datetime.fromisoformat(v)
    return v.year - 1970


def hours_value(v: Any) -> int | None:
    if v is None:
        return None
    if isinstance(v, str):
        v = datetime.datetime.fromisoformat(v)
    if v.tzinfo is None:
        v = v.replace(tzinfo=datetime.timezone.utc)
    return int(v.timestamp() // 3600)


def truncate_value(v: Any, w: int) -> Any:
    if v is None:
        return None
    if isinstance(v, int):
        return v - (v % w)  # Python % is floor-mod: correct for negatives
    if isinstance(v, str):
        return v[:w]
    raise ValueError(f"truncate transform unsupported for {type(v)}")


# Spark SQL's plural transform functions, and the names tables written
# by earlier versions of this package carry; the spec names are singular
_PLURAL = {"days": "day", "months": "month", "years": "year", "hours": "hour"}


class PartitionField:
    """One partition-spec field: `transform(source_column) AS name`.
    ``transform`` is the spec's name (``day``, ``bucket`` ...); a plural
    ``days``/``months``/``years``/``hours`` is read as the singular."""

    def __init__(self, transform: str, source: str, param: int | None = None, field_id: int = 1000):
        self.transform = _PLURAL.get(transform, transform)
        self.source = source
        self.param = param
        self.field_id = field_id
        self.name = source if self.transform == "identity" else f"{source}_{self.transform}"

    # -- spec JSON ---------------------------------------------------------

    def transform_str(self) -> str:
        if self.transform in ("bucket", "truncate"):
            return f"{self.transform}[{self.param}]"
        return self.transform

    @classmethod
    def from_json(cls, f: dict, source_name: str) -> "PartitionField":
        t = f["transform"]
        param = None
        if "[" in t:
            t, p = t.rstrip("]").split("[")
            param = int(p)
        pf = cls(t, source_name, param, f.get("field-id", 1000))
        pf.name = f.get("name", pf.name)
        return pf

    # -- read face (pure Python on literals / partition values) -----------

    def apply(self, v: Any) -> Any:
        if self.transform == "identity":
            # manifests store identity-on-date as epoch-day ordinals
            if isinstance(v, datetime.date) and not isinstance(v, datetime.datetime):
                return (v - _EPOCH).days
            return v
        if self.transform == "day":
            return days_value(v)
        if self.transform == "month":
            return months_value(v)
        if self.transform == "year":
            return years_value(v)
        if self.transform == "hour":
            return hours_value(v)
        if self.transform == "truncate":
            return truncate_value(v, self.param)
        if self.transform == "bucket":
            return bucket_value(v, self.param)
        raise ValueError(f"unknown transform {self.transform}")


_C1, _C2 = 0xCC9E2D51, 0x1B873593


def _m32(x: Column) -> Column:
    return x.bitwiseAND(F.lit(0xFFFFFFFF))


def _mul32(x: Column, c: int) -> Column:
    """(x * c) mod 2^32 on a 32-bit-masked bigint column, without any
    intermediate exceeding 2^48 — safe under ANSI overflow checking.
    Split x into 16-bit halves; the high half only contributes its low
    16 bits after the <<16."""
    lo = x.bitwiseAND(F.lit(0xFFFF)) * F.lit(c)
    hi = F.shiftleft(
        (F.shiftrightunsigned(x, 16) * F.lit(c & 0xFFFF)).bitwiseAND(F.lit(0xFFFF)), 16
    )
    return _m32(lo + hi)


def _rotl32(x: Column, r: int) -> Column:
    return _m32(F.shiftleft(x, r)).bitwiseOR(F.shiftrightunsigned(x, 32 - r))


def murmur3_32_long_column(v: Column) -> Column:
    """murmur3_x86_32 of the 8-byte little-endian encoding of a LONG
    column, composed entirely from JVM bitwise/arithmetic expressions —
    whole-stage codegen, zero Python in the write hot path. Bit-exact
    twin of the scalar ``murmur3_32``/``bucket_value`` (asserted
    against the Iceberg spec vectors in tests/test_partitioning.py).
    Null input propagates to null through the expression tree."""
    h = F.lit(0)
    for k in (_m32(v), _m32(F.shiftrightunsigned(v, 32))):
        k = _mul32(k, _C1)
        k = _rotl32(k, 15)
        k = _mul32(k, _C2)
        h = _m32(h.bitwiseXOR(k))
        h = _rotl32(h, 13)
        h = _m32(_mul32(h, 5) + F.lit(0xE6546B64))
    h = h.bitwiseXOR(F.lit(8))  # len(data) == 8 bytes
    h = h.bitwiseXOR(F.shiftrightunsigned(h, 16))
    h = _mul32(h, 0x85EBCA6B)
    h = h.bitwiseXOR(F.shiftrightunsigned(h, 13))
    h = _mul32(h, 0xC2B2AE35)
    return h.bitwiseXOR(F.shiftrightunsigned(h, 16))


def bucket_column(source: Column, n: int, dtype: str) -> Column:
    """Write-time Iceberg bucket(N) partition column.

    int/long/date/timestamp take the JVM expression path (codegen, no
    Python) over the long ``bucket_value`` hashes: the value, epoch
    days, epoch micros (a timestamp_ntz's wall-clock micros, from its
    date and time parts, which no session zone changes).
    Variable-length types (string/binary) need UTF-8 byte iteration,
    which runs per-element inside Arrow-transferred batches — never a
    row-at-a-time pickled Python UDF."""
    if dtype in ("tinyint", "smallint", "int", "bigint"):
        v = source.cast("long")
    elif dtype == "date":
        v = F.datediff(source, F.lit("1970-01-01").cast("date")).cast("long")
    elif dtype == "timestamp":
        v = F.unix_micros(source)
    elif dtype == "timestamp_ntz":
        minutes = (F.unix_date(F.to_date(source)).cast("long") * 24 + F.hour(source)) * 60 + F.minute(source)
        v = minutes * 60_000_000 + (F.date_part(F.lit("SECOND"), source) * 1_000_000).cast("long")
    else:
        import pandas as pd

        def _bucket_batch_fn(s):
            def one(v):
                if v is None or (isinstance(v, float) and v != v):
                    return None
                return bucket_value(v, n)

            return pd.Series(pd.array([one(v) for v in s], dtype="Int32"))

        # PEP-563 stringified hints defeat pandas_udf inference under
        # `from __future__ import annotations`; set real ones explicitly.
        _bucket_batch_fn.__annotations__ = {"s": pd.Series, "return": pd.Series}
        return F.pandas_udf(_bucket_batch_fn, "int")(source)
    hashed = murmur3_32_long_column(v)
    return F.pmod(hashed.bitwiseAND(F.lit(0x7FFFFFFF)), F.lit(n)).cast("int")


def spark_partition_column(pf: PartitionField, dtype: str) -> Column:
    """Write-time partition column for a PartitionField, given the
    source column's Spark dtype (needed to pick truncate semantics)."""
    c = F.col(pf.source)
    if pf.transform == "identity":
        return c
    if dtype == "timestamp" and pf.transform in ("day", "month", "year"):
        # Iceberg cuts a timestamptz at UTC days; Spark's to_date, year
        # and month would cut it in the session time zone
        c = F.date_from_unix_date(F.floor(F.unix_micros(c) / 86_400_000_000).cast("int"))
    if pf.transform == "day":
        return F.to_date(c)
    if pf.transform == "month":
        return ((F.year(c) - 1970) * 12 + F.month(c) - 1).cast("int")
    if pf.transform == "year":
        return (F.year(c) - 1970).cast("int")
    if pf.transform == "hour":
        return F.floor(F.unix_timestamp(c) / 3600).cast("int")
    if pf.transform == "truncate":
        if dtype in ("string",):
            return F.substring(c, 1, pf.param)
        return (c - F.pmod(c, F.lit(pf.param))).cast("long" if dtype == "bigint" else "int")
    if pf.transform == "bucket":
        return bucket_column(c, pf.param, dtype)
    raise ValueError(f"unknown transform {pf.transform}")
