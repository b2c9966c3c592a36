"""Native Iceberg v2 and v3 write surface, Spark-first.

The reference extension has **no write path** (SURVEY.md §2A "absent:
writes" — its test generator shells out to Spark+iceberg-runtime,
reference ``scripts/test_data_generator/generate_iceberg.py:31-52``).
This module supplies the write surface the north star requires
(create/append/DML/DDL + compaction via the DataFrame API), producing
standard Iceberg v2 or v3 table layouts that our own reader
(:func:`duckdb_iceberg_spark.iceberg_scan`) and any spec-compliant
reader can scan: ``metadata/vN.metadata.json`` + ``version-hint.text``,
Avro manifest lists/manifests, parquet data files, and positional-delete
parquet (v2) or Puffin deletion vectors (v3).

Every snapshot goes through ``IcebergTable._commit`` and every manifest
through ``IcebergTable._write_manifest``, so the manifest and snapshot
format is known in one place.

Scale design:
- Data and delete rows are written BY SPARK EXECUTORS (``df.write``)
  — never collected to the driver. The driver only moves/renames the
  resulting part files and writes KB-scale Avro/JSON metadata, exactly
  the division of labor of every production Iceberg writer.
- DELETE/UPDATE are merge-on-read: matched row positions come from
  ``_metadata.file_path``/``_metadata.row_index`` (split-safe, computed
  by the parquet reader per file) and become position-delete files; no
  rewrite of unaffected data files.
- ``rewrite_data_files`` (compaction) sizes output partitions by bytes,
  so a 100 TB table compacts with one Spark job and bounded task size.
"""

from __future__ import annotations

import copy
import functools
import itertools
import json
import logging
import math
import os
import shutil
import time
import uuid
from typing import Any, Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .plans.avro import read_avro_file, write_avro_file
from .plans.manifests import inherit_from_manifest
from .plans.table_metadata import (
    IcebergColumn,
    IcebergSchema,
    TableMetadata,
    load_table_metadata,
    parse_iceberg_type,
)
from .plans.transforms import PartitionField, spark_partition_column

__all__ = ["IcebergTable", "CommitConflictError"]


class CommitConflictError(RuntimeError):
    """Another writer committed the next metadata version first."""

# ---------------------------------------------------------------------------
# Spark type -> Iceberg JSON type
# ---------------------------------------------------------------------------


def _spark_to_iceberg_type(dt: T.DataType, next_id) -> Any:
    if isinstance(dt, T.BooleanType):
        return "boolean"
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType)):
        return "int"
    if isinstance(dt, T.LongType):
        return "long"
    if isinstance(dt, T.FloatType):
        return "float"
    if isinstance(dt, T.DoubleType):
        return "double"
    if isinstance(dt, T.DateType):
        return "date"
    if isinstance(dt, T.TimestampNTZType):
        return "timestamp"
    if isinstance(dt, T.TimestampType):
        return "timestamptz"
    if isinstance(dt, T.StringType):
        return "string"
    if isinstance(dt, T.BinaryType):
        return "binary"
    if isinstance(dt, T.VariantType):
        return "variant"
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.StructType):
        return {
            "type": "struct",
            "fields": [
                {
                    "id": next_id(),
                    "name": f.name,
                    "required": not f.nullable,
                    "type": _spark_to_iceberg_type(f.dataType, next_id),
                }
                for f in dt.fields
            ],
        }
    if isinstance(dt, T.ArrayType):
        return {
            "type": "list",
            "element-id": next_id(),
            "element": _spark_to_iceberg_type(dt.elementType, next_id),
            "element-required": not dt.containsNull,
        }
    if isinstance(dt, T.MapType):
        return {
            "type": "map",
            "key-id": next_id(),
            "key": _spark_to_iceberg_type(dt.keyType, next_id),
            "value-id": next_id(),
            "value": _spark_to_iceberg_type(dt.valueType, next_id),
            "value-required": not dt.valueContainsNull,
        }
    raise ValueError(f"cannot map Spark type {dt} to Iceberg")


def _field_ids(last: int):
    """``next_id`` for :func:`_spark_to_iceberg_type`: hands out the
    field ids after ``last``."""
    return itertools.count(last + 1).__next__


def _schema_to_json(schema: IcebergSchema) -> dict:
    next_id = _field_ids(max([c.field_id for c in schema.columns], default=0))
    fields = []
    for c in schema.columns:
        f: dict[str, Any] = {
            "id": c.field_id,
            "name": c.name,
            "required": c.required,
            "type": _spark_to_iceberg_type(c.spark_type, next_id),
        }
        if c.initial_default is not None:
            f["initial-default"] = c.initial_default
        if c.write_default is not None:
            f["write-default"] = c.write_default
        fields.append(f)
    return {"type": "struct", "schema-id": schema.schema_id, "fields": fields}


def _schema_from_df(df: DataFrame) -> IcebergSchema:
    next_id = _field_ids(len(df.schema.fields))
    cols = []
    for i, f in enumerate(df.schema.fields, start=1):
        _spark_to_iceberg_type(f.dataType, next_id)  # validates + reserves nested ids
        cols.append(IcebergColumn(field_id=i, name=f.name, spark_type=f.dataType, required=not f.nullable))
    return IcebergSchema(schema_id=0, columns=cols)


# ---------------------------------------------------------------------------
# Avro schemas for manifest list / manifest (Iceberg v2 field ids)
# ---------------------------------------------------------------------------

_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        # v3 row lineage (spec field 520): starting _row_id of the id
        # space assigned to this data manifest; entries with null
        # first_row_id inherit from it cumulatively on read
        {"name": "first_row_id", "type": ["null", "long"], "default": None, "field-id": 520},
    ],
}

_MANIFEST_ENTRY_SCHEMA = {
    "type": "record",
    "name": "manifest_entry",
    "fields": [
        {"name": "status", "type": "int", "field-id": 0},
        {"name": "snapshot_id", "type": ["null", "long"], "default": None, "field-id": 1},
        {"name": "sequence_number", "type": ["null", "long"], "default": None, "field-id": 3},
        {"name": "file_sequence_number", "type": ["null", "long"], "default": None, "field-id": 4},
        {
            "name": "data_file",
            "field-id": 2,
            "type": {
                "type": "record",
                "name": "r2",
                "fields": [
                    {"name": "content", "type": "int", "field-id": 134},
                    {"name": "file_path", "type": "string", "field-id": 100},
                    {"name": "file_format", "type": "string", "field-id": 101},
                    {
                        "name": "partition",
                        "field-id": 102,
                        "type": {"type": "record", "name": "r102", "fields": []},
                    },
                    {"name": "record_count", "type": "long", "field-id": 103},
                    {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
                    {
                        "name": "null_value_counts",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k121_v122",
                                    "fields": [
                                        {"name": "key", "type": "int", "field-id": 121},
                                        {"name": "value", "type": "long", "field-id": 122},
                                    ],
                                },
                            },
                        ],
                        "default": None,
                        "field-id": 110,
                    },
                    {
                        "name": "lower_bounds",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k126_v127",
                                    "fields": [
                                        {"name": "key", "type": "int", "field-id": 126},
                                        {"name": "value", "type": "bytes", "field-id": 127},
                                    ],
                                },
                            },
                        ],
                        "default": None,
                        "field-id": 125,
                    },
                    {
                        "name": "upper_bounds",
                        "type": [
                            "null",
                            {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "k129_v130",
                                    "fields": [
                                        {"name": "key", "type": "int", "field-id": 129},
                                        {"name": "value", "type": "bytes", "field-id": 130},
                                    ],
                                },
                            },
                        ],
                        "default": None,
                        "field-id": 128,
                    },
                    {
                        "name": "equality_ids",
                        "type": ["null", {"type": "array", "items": "int", "element-id": 136}],
                        "default": None,
                        "field-id": 135,
                    },
                    # Iceberg v3 row lineage (spec field 142)
                    {
                        "name": "first_row_id",
                        "type": ["null", "long"],
                        "default": None,
                        "field-id": 142,
                    },
                    # Iceberg v3 deletion vectors (spec fields 143-145)
                    {
                        "name": "referenced_data_file",
                        "type": ["null", "string"],
                        "default": None,
                        "field-id": 143,
                    },
                    {
                        "name": "content_offset",
                        "type": ["null", "long"],
                        "default": None,
                        "field-id": 144,
                    },
                    {
                        "name": "content_size_in_bytes",
                        "type": ["null", "long"],
                        "default": None,
                        "field-id": 145,
                    },
                ],
            },
        },
    ],
}

def _metadata_json_bytes(doc: dict, codec: str) -> bytes:
    data = json.dumps(doc, separators=(",", ":")).encode()
    if codec == "gzip":
        import gzip

        # mtime=0: byte-deterministic output (no wall-clock in the header)
        data = gzip.compress(data, mtime=0)
    return data


def _dump_metadata_json(mpath: str, doc: dict, codec: str) -> None:
    from .plans.fs import get_fs

    get_fs(mpath).write_bytes(mpath, _metadata_json_bytes(doc, codec))


# Iceberg's write.parquet.compression-codec names, which Spark's parquet
# `compression` option takes as they are (brotli, Iceberg's sixth name,
# has no codec in Spark's distribution)
_PARQUET_CODECS = ("gzip", "lz4", "snappy", "uncompressed", "zstd")
# Iceberg's default write.target-file-size-bytes: the size that sizes a
# driver-held batch and rewrite_data_files' default target
_TARGET_FILE_SIZE = 512 * 1024 * 1024


def _parquet_codec(props: dict) -> str:
    """Spark's parquet codec for table properties ``props``: their
    ``write.parquet.compression-codec``, ``zstd`` (Iceberg >= 1.4's
    default) when unset; an unknown name raises ValueError."""
    name = props.get("write.parquet.compression-codec", "zstd")
    codec = str(name).lower()
    if codec not in _PARQUET_CODECS:
        raise ValueError(f"unsupported write.parquet.compression-codec {name!r}; expected one of {_PARQUET_CODECS}")
    return codec


def _cmp_lt(a, b) -> bool:
    try:
        return a < b
    except TypeError:
        return False


def _parse_partition_dirs(rel: str, pfields: list[PartitionField], dtypes: dict) -> dict:
    """`_p_name=value[/...]` path → {partition_field_name: typed_value}.

    Typed per Iceberg manifest conventions: temporal transforms and
    identity-on-date store ordinal ints; identity keeps the source type."""
    import datetime as _dt
    import urllib.parse

    if rel == "." or not pfields:
        return {}
    by_dir = {f"_p_{pf.name}": pf for pf in pfields}
    out: dict = {}
    for seg in rel.split(os.sep):
        if "=" not in seg:
            continue
        k, raw = seg.split("=", 1)
        pf = by_dir.get(k)
        if pf is None:
            continue
        raw = urllib.parse.unquote(raw)
        if raw == "__HIVE_DEFAULT_PARTITION__":
            out[pf.name] = None
            continue
        if pf.transform == "day" or (pf.transform == "identity" and dtypes.get(pf.source) == "date"):
            out[pf.name] = (_dt.date.fromisoformat(raw) - _dt.date(1970, 1, 1)).days
        elif pf.transform in ("month", "year", "hour", "bucket"):
            out[pf.name] = int(raw)
        elif pf.transform == "truncate":
            out[pf.name] = raw if dtypes.get(pf.source) == "string" else int(raw)
        else:  # identity
            st = dtypes.get(pf.source, "string")
            if st in ("int", "bigint", "smallint", "tinyint"):
                out[pf.name] = int(raw)
            elif st in ("double", "float"):
                out[pf.name] = float(raw)
            elif st == "boolean":
                out[pf.name] = raw == "true"
            else:
                out[pf.name] = raw
    return out


def _partition_avro_fields(pfields: list[PartitionField], schema: IcebergSchema) -> list[dict]:
    """r102 record fields for the current partition spec."""
    by_name = {c.name: c for c in schema.columns}
    fields = []
    for pf in pfields:
        src = by_name.get(pf.source)
        st = src.spark_type.simpleString() if src else "string"
        if pf.transform == "day" or (pf.transform == "identity" and st == "date"):
            t: Any = {"type": "int", "logicalType": "date"}
        elif pf.transform in ("month", "year", "hour", "bucket"):
            t = "int"
        elif pf.transform == "truncate":
            t = "string" if st == "string" else ("long" if st == "bigint" else "int")
        elif st in ("int", "smallint", "tinyint"):
            t = "int"
        elif st == "bigint":
            t = "long"
        elif st in ("double",):
            t = "double"
        elif st in ("float",):
            t = "float"
        elif st == "boolean":
            t = "boolean"
        else:
            t = "string"
        fields.append({"name": pf.name, "type": ["null", t], "default": None, "field-id": pf.field_id})
    return fields


def _parse_spec_entry(p, field_id: int) -> PartitionField:
    """One partition_by entry -> PartitionField: ``"col"`` (identity),
    ``"years(col)"`` / ``"bucket(16, col)"`` SQL syntax, or the tuple
    forms ``(transform, col)`` / ``(transform, N, col)``."""
    if isinstance(p, str) and "(" in p:
        tname, _, rest = p.partition("(")
        args = [a.strip() for a in rest.rstrip(")").split(",")]
        p = (tname.strip(), *args) if len(args) == 1 else (tname.strip(), int(args[0]), args[1])
    if isinstance(p, str):
        return PartitionField("identity", p, None, field_id)
    if len(p) == 2:
        return PartitionField(p[0], p[1], None, field_id)
    return PartitionField(p[0], p[2], int(p[1]), field_id)


_log = logging.getLogger("duckdb_iceberg_spark")


def _as_column(val) -> Column:
    """An assigned value as a Column: a SQL expression string, a
    Column, or a literal."""
    return F.expr(val) if isinstance(val, str) else (val if isinstance(val, Column) else F.lit(val))


def _now_ms() -> int:
    return int(time.time() * 1000)


def _new_snapshot_id() -> int:
    return uuid.uuid4().int >> 65  # 63-bit positive


def _unreadable_columns(schema: IcebergSchema, md) -> list[str]:
    """``name: file type vs table type`` for each table column a parquet
    footer ``md`` stores as a type the table cannot read it as, as
    pyiceberg's ``add_files`` checks: integers and floats may widen and
    decimals gain precision (Iceberg's type promotions), timestamps must
    be microseconds (or Spark's INT96), nested columns are not checked."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    arrow = md.schema.to_arrow_schema()
    int96 = {md.schema.column(i).path for i in range(md.num_columns) if md.schema.column(i).physical_type == "INT96"}
    bad = []
    for c in schema.columns:
        ft = arrow.field(c.name).type if c.name in arrow.names else None
        ft, tt = {pa.large_string(): pa.string(), pa.large_binary(): pa.binary()}.get(ft, ft), to_arrow_type(c.spark_type)
        if ft is None or ft == tt or c.name in int96 or pa.types.is_nested(tt):
            continue
        if not (
            any(k(ft) and k(tt) and ft.bit_width <= tt.bit_width for k in (pa.types.is_integer, pa.types.is_floating))
            or (pa.types.is_decimal(ft) and pa.types.is_decimal(tt) and ft.scale == tt.scale and ft.precision <= tt.precision)
            or (pa.types.is_timestamp(ft) and pa.types.is_timestamp(tt) and ft.unit == "us")
        ):
            bad.append(f"{c.name}: {ft} vs {tt}")
    return bad


def _carried_entries(manifest: dict) -> list[dict]:
    """Entries of the manifest behind manifest-list record ``manifest``,
    with what they inherit from it made explicit. A rewritten manifest
    has its own (newer) sequence number and no row-id space, so an
    entry that still inherited would get a newer sequence number —
    older deletes stop applying to it — or lose its ``_row_id``s."""
    _, entries = read_avro_file(manifest["manifest_path"])
    cursor = manifest.get("first_row_id")
    for e in entries:
        cursor = inherit_from_manifest(e, manifest.get("sequence_number") or 0, cursor)
    return entries


class IcebergTable:
    """Writable Iceberg v2 or v3 table at a filesystem path (hadoop layout).

    ``create`` → CTAS; then ``append`` / ``delete_where`` /
    ``update_where`` (merge-on-read) / ``add_column`` /
    ``alter_column_type`` / ``rewrite_data_files`` (compaction) /
    ``rewrite_manifests`` / ``expire_snapshots`` / ``remove_orphan_files``.
    Every operation that makes a snapshot commits it through
    :meth:`_commit`.
    """

    def __init__(self, spark: SparkSession, path: str, metadata_compression_codec: str = "none"):
        from .plans.fs import abspath

        self.spark = spark
        self.path = abspath(path)
        self.codec = metadata_compression_codec
        self.meta: TableMetadata = load_table_metadata(self.path, metadata_compression_codec=self.codec)
        # v3 deletion vectors superseded by the DVs the next commit adds:
        # {(file path as stored, content_offset): record_count}
        self._pending_superseded: Optional[dict] = None

    @property
    def partition_fields(self) -> list[PartitionField]:
        """Current partition-spec fields (default spec)."""
        spec_id = self.meta.raw.get("default-spec-id", 0)
        spec = next((s for s in self.meta.partition_specs if s.get("spec-id", 0) == spec_id), None)
        if not spec:
            return []
        id_to_name = {c.field_id: c.name for c in self.schema.columns}
        return [PartitionField.from_json(f, id_to_name[f["source-id"]]) for f in spec.get("fields", [])]

    # -- construction -----------------------------------------------------

    @classmethod
    def create(
        cls,
        spark: SparkSession,
        path: str,
        df: DataFrame,
        *,
        partition_by: Optional[list] = None,
        properties: Optional[dict] = None,
        metadata_compression_codec: str = "none",
        format_version: int = 2,
    ) -> "IcebergTable":
        """CTAS. ``partition_by`` entries: ``"col"`` (identity),
        ``("day"|"month"|"year"|"hour", col)`` (Spark SQL's plural
        ``days`` ... are accepted too), or
        ``("bucket"|"truncate", N, col)`` — Iceberg hidden partitioning
        (the reference's own provisioner uses ``days(dt)``,
        reference scripts/provision.py:92). The spec records the
        singular names, as the Iceberg spec spells them.

        ``format_version=3`` writes an Iceberg v3 table: DELETE /
        UPDATE / MERGE emit Puffin deletion vectors instead of
        position-delete parquet (beyond the reference, which has no v3
        support at all).

        The writer honors the table's ``write.parquet.compression-codec``
        property, the data and delete file codec: a new table gets
        ``zstd``, as Iceberg >= 1.4 gives it, unless ``properties`` names
        another. An unknown codec raises ValueError before anything is
        written. A frame whose rows are already on the driver is written
        as one file per 512 MiB (Iceberg's default target file size) of
        its rows' in-memory bytes."""
        if format_version not in (2, 3):
            raise ValueError(f"format_version must be 2 or 3, got {format_version}")
        properties = {"write.parquet.compression-codec": "zstd", **(properties or {})}
        _parquet_codec(properties)
        from .plans.fs import abspath, get_fs

        path = abspath(path)
        fs = get_fs(path)
        if fs.exists(os.path.join(path, "metadata")):
            raise FileExistsError(f"Iceberg table already exists at {path}")
        fs.makedirs(os.path.join(path, "metadata"))
        fs.makedirs(os.path.join(path, "data"))
        schema = _schema_from_df(df)
        last_col = _max_field_id(schema)
        name_to_id = {c.name: c.field_id for c in schema.columns}
        spec_fields = []
        for i, p in enumerate(partition_by or []):
            pf = _parse_spec_entry(p, 1000 + i)
            spec_fields.append(
                {
                    "name": pf.name,
                    "transform": pf.transform_str(),
                    "source-id": name_to_id[pf.source],
                    "field-id": pf.field_id,
                }
            )
        doc = {
            "format-version": format_version,
            "table-uuid": str(uuid.uuid4()),
            "location": path,
            "last-sequence-number": 0,
            "last-updated-ms": _now_ms(),
            "last-column-id": last_col,
            "current-schema-id": 0,
            "schemas": [_schema_to_json(schema)],
            "default-spec-id": 0,
            "partition-specs": [{"spec-id": 0, "fields": spec_fields}],
            "last-partition-id": 999,
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": properties,
            "current-snapshot-id": -1,
            "snapshots": [],
            "snapshot-log": [],
            "metadata-log": [],
        }
        if format_version >= 3:
            # v3 makes next-row-id required in table metadata from the
            # very first document (row-lineage cursor; no rows assigned
            # yet -> 0). Spec-conformant validators reject v3 metadata
            # lacking the key.
            doc["next-row-id"] = 0
        suffix = ".gz" if metadata_compression_codec == "gzip" else ""
        mpath = os.path.join(path, "metadata", f"v1{suffix}.metadata.json")
        _dump_metadata_json(mpath, doc, metadata_compression_codec)
        fs.write_atomic(os.path.join(path, "metadata", "version-hint.text"), b"1")
        table = cls(spark, path, metadata_compression_codec)
        table.append(df)
        return table

    # -- read-side helpers ------------------------------------------------

    def scan(self, *, tag: Optional[str] = None, branch: Optional[str] = None, **kwargs) -> DataFrame:
        from .sources.iceberg import iceberg_scan

        if tag is not None or branch is not None:
            kwargs["snapshot_id"] = self.ref_snapshot_id(tag if tag is not None else branch)
        kwargs.setdefault("metadata_compression_codec", self.codec)
        return iceberg_scan(self.spark, self.path, **kwargs)

    def scan_appends(self, since_snapshot_id: int, until_snapshot_id: Optional[int] = None) -> DataFrame:
        """Incremental read: rows in data files committed AFTER
        ``since_snapshot_id`` (exclusive) up to ``until_snapshot_id``
        (inclusive; default latest). The lakehouse CDC primitive — a
        downstream pipeline consumes each new snapshot's appends
        without rescanning the table. Sequence numbers scope the file
        set; deletes newer than the window still apply to it."""
        from .plans.manifests import load_table_scan

        lo = self.meta.snapshot_by_id(since_snapshot_id).sequence_number
        snap = (
            self.meta.snapshot_by_id(until_snapshot_id)
            if until_snapshot_id is not None
            else self.meta.latest_snapshot()
        )
        scan = load_table_scan(self.meta, snap, self.path, False)
        new_files = [e for e in scan.data_files() if (e.sequence_number or 0) > lo]
        return self._scan_files(snap.snapshot_id, new_files)

    def scan_changelog(self, from_snapshot_id: int, to_snapshot_id: Optional[int] = None) -> DataFrame:
        """Net row-level changelog between two snapshots: the current
        rows added ('insert') and removed ('delete') going from
        ``from_snapshot_id`` (exclusive baseline) to ``to_snapshot_id``
        (inclusive; default latest). Schema: change_type + table columns.

        Scale design: a naive changelog is
        ``new EXCEPT ALL old  /  old EXCEPT ALL new`` over two FULL
        table reads — 2 x 100 TB scanned and shuffled. Here the
        manifest diff bounds the work first: a data file live in both
        snapshots and subject to the same delete files contributes
        identical rows to both sides, so it cancels from both EXCEPTs
        and is never read. Only added/removed files, plus the common
        files to which a delete file added or removed in between
        applies (`DeleteFileIndex`), are scanned — O(changed data), not
        O(table).

        Rewrite-neutrality falls out of the EXCEPT ALL: compaction
        moves rows between files without changing content, and those
        rows cancel.
        """
        from .plans.manifests import DeleteFileIndex, load_table_scan

        old_snap = self.meta.snapshot_by_id(from_snapshot_id)
        new_snap = (
            self.meta.snapshot_by_id(to_snapshot_id)
            if to_snapshot_id is not None
            else self.meta.latest_snapshot()
        )
        old_scan = load_table_scan(self.meta, old_snap, self.path, False)
        new_scan = load_table_scan(self.meta, new_snap, self.path, False)
        old_files = {e.file_path: e for e in old_scan.data_files()}
        new_files = {e.file_path: e for e in new_scan.data_files()}
        cand_old = old_files.keys() - new_files.keys()
        cand_new = new_files.keys() - old_files.keys()
        # a delete file in one snapshot only (a DV is one blob of a
        # shared Puffin file) may change a common file's live rows;
        # a common file has one data sequence number in both
        old_deletes, new_deletes = (
            {(e.file_path, e.content_offset): e for e in scan.positional_delete_files() + scan.equality_delete_files()}
            for scan in (old_scan, new_scan)
        )
        either = {**old_deletes, **new_deletes}
        changed = DeleteFileIndex([either[k] for k in old_deletes.keys() ^ new_deletes.keys()])
        touched = {p for p in old_files.keys() & new_files.keys() if any(changed.for_file(new_files[p]))}
        cand_old |= touched
        cand_new |= touched
        rows_old = self._scan_files(old_snap.snapshot_id, [old_files[p] for p in cand_old])
        rows_new = self._scan_files(new_snap.snapshot_id, [new_files[p] for p in cand_new])
        inserts = rows_new.exceptAll(rows_old)
        deletes = rows_old.exceptAll(rows_new)
        return inserts.select(F.lit("insert").alias("change_type"), "*").unionAll(
            deletes.select(F.lit("delete").alias("change_type"), "*")
        )

    def snapshots(self, **kwargs) -> DataFrame:
        from .sources.iceberg import iceberg_snapshots

        kwargs.setdefault("metadata_compression_codec", self.codec)
        return iceberg_snapshots(self.spark, self.path, **kwargs)

    def metadata(self, **kwargs) -> DataFrame:
        from .sources.iceberg import iceberg_metadata

        kwargs.setdefault("metadata_compression_codec", self.codec)
        return iceberg_metadata(self.spark, self.path, **kwargs)

    def partitions(self, **kwargs) -> DataFrame:
        from .sources.iceberg import iceberg_partitions

        kwargs.setdefault("metadata_compression_codec", self.codec)
        return iceberg_partitions(self.spark, self.path, **kwargs)

    def history(self, **kwargs) -> DataFrame:
        from .sources.iceberg import iceberg_history

        kwargs.setdefault("metadata_compression_codec", self.codec)
        return iceberg_history(self.spark, self.path, **kwargs)

    def _scan_with_pos(self, snapshot_id: Optional[int] = None, where=None) -> DataFrame:
        """Live rows (default: current snapshot) + (__file, __pos)
        virtual columns, ``__file`` the URI Spark reports (not decoded).
        ``where``, a SQL string or a Column, keeps the matching rows and
        prunes the data files by partition values and column bounds
        (iceberg_scan)."""
        from .sources.iceberg import iceberg_scan

        return iceberg_scan(
            self.spark, self.path, snapshot_id, metadata_compression_codec=self.codec, where=where,
            _keep_position_columns=True,
        )

    def _scan_files(self, snapshot_id: int, entries: list) -> DataFrame:
        """Live rows of snapshot ``snapshot_id`` that sit in the data
        files of manifest ``entries``: ``__file`` is matched against
        their URIs as Spark reports them, worked out on the driver, so
        no row is decoded."""
        from .sources.iceberg import _file_uris

        uris = list(_file_uris(self.spark, entries).values())
        return self._scan_with_pos(snapshot_id).where(F.col("__file").isin(uris)).drop("__file", "__pos")

    @property
    def schema(self) -> IcebergSchema:
        return self.meta.schemas[self.meta.current_schema_id]

    @property
    def format_version(self) -> int:
        return int(self.meta.raw.get("format-version", 2))

    # -- low-level writers ------------------------------------------------

    def _write_position_deletes(self, matched: DataFrame) -> list[dict]:
        """Position deletes for ``matched`` rows (must carry the scan's
        ``__file``/``__pos`` metadata columns), in the table's
        format-version dialect: v2 writes position-delete parquet
        (spec field ids 2147483546/2147483545); v3 writes Puffin
        DELETION VECTORS — one roaring bitmap per affected data file,
        encoded EXECUTOR-side (applyInPandas over file_path groups) so
        only the compressed blobs return to the driver (the same
        per-file bound every Iceberg DV writer holds in memory), then
        assembled into a single Puffin file through plans/fs.

        v3 merge rule: the spec forbids adding a second DV for a data
        file without merging, so existing DV positions for the
        affected files are unioned in before encoding, and the
        superseded DV entries are tombstoned (status=DELETED) in the
        new snapshot's manifests by _commit — no snapshot ever
        exposes two live DVs for one data file, which strict v3
        readers (Iceberg Java, DuckDB) reject."""
        from .sources.iceberg import _decode_file_uri, _norm_path

        self._pending_superseded = None
        # the manifest path from Spark's URI on the matched rows only;
        # hash-partitioned on file_path first, so the count per
        # (file_path, pos) finds its rows clustered and needs no
        # exchange of its own; a position matched twice is SQL MERGE's
        # cardinality violation
        dels = (
            matched.select(
                _norm_path(_decode_file_uri(F.col("__file"))).alias("file_path"),
                F.col("__pos").cast("long").alias("pos"),
            )
            .repartition("file_path")
            .groupBy("file_path", "pos")
            .count()
            .select("file_path", F.when(F.col("count") == 1, F.col("pos")).otherwise(
                F.raise_error(F.lit("MERGE cardinality violation: a target row matched two source rows"))).alias("pos"))
            .sortWithinPartitions("file_path", "pos")
        )
        if self.format_version < 3:
            dels = dels.select(
                F.col("file_path").alias("file_path", metadata={"parquet.field.id": 2147483546}),
                F.col("pos").alias("pos", metadata={"parquet.field.id": 2147483545}),
            )
            files = self._write_parquet_files(dels)
            for f in files:
                f["content"] = 1
            return files
        return self._write_deletion_vectors(dels)

    def _write_deletion_vectors(self, dels: DataFrame) -> list[dict]:
        """v3 path of :meth:`_write_position_deletes`: ``dels`` is a
        (file_path, pos) frame holding each position once."""
        from .plans.manifests import DeleteFileIndex, load_table_scan
        from .plans.puffin import write_puffin_blobs
        from .sources.iceberg import _dv_deletes_df

        snap = self.meta.latest_snapshot()
        prior = []
        if snap is not None:
            scan = load_table_scan(self.meta, snap, self.path, False)
            prior = DeleteFileIndex(scan.entries).for_files(scan.data_files())[1]
            if prior:
                affected = dels.select("file_path").distinct()
                dels = dels.unionByName(
                    _dv_deletes_df(self.spark, prior).join(
                        F.broadcast(affected), "file_path", "left_semi"
                    )
                )

        def _encode(pdf):
            import pandas as pd

            from .plans.roaring import encode_dv_blob

            positions = pdf["pos"].to_numpy()
            blob = encode_dv_blob(sorted(set(int(p) for p in positions)))
            return pd.DataFrame(
                {
                    "file_path": [pdf["file_path"].iloc[0]],
                    "blob": [blob],
                    "cardinality": [len(set(positions))],
                }
            )

        encoded = (
            dels.groupBy("file_path")
            .applyInPandas(_encode, "file_path string, blob binary, cardinality long")
            .collect()
        )
        if not encoded:
            return []
        # v3 merge rule bookkeeping: any prior DV whose referenced data
        # file just got a merged superset DV is SUPERSEDED — record it
        # so _commit tombstones the old entry in the new snapshot's
        # manifests (the spec forbids two live DVs for one data file)
        # and callers can subtract the merged-in prior positions from
        # their added-position-deletes summary.
        written = {r.file_path for r in encoded}
        self._pending_superseded = {
            ((e.raw_file_path or e.file_path), e.content_offset): e.record_count
            for e in prior
            if e.referenced_data_file in written
        }
        puffin = os.path.join(
            self.path, "data", f"{uuid.uuid4().hex}-deletes.puffin"
        )
        seq = self.meta.raw.get("last-sequence-number", 0) + 1
        info = write_puffin_blobs(
            puffin,
            [(r.file_path, bytes(r.blob), r.cardinality) for r in encoded],
            sequence_number=seq,
        )
        total = sum(s for _o, s, _c in info.values())
        return [
            {
                "file_path": puffin,
                "file_format": "PUFFIN",
                "content": 1,
                "record_count": card,
                "file_size_in_bytes": total,
                "referenced_data_file": ref,
                "content_offset": off,
                "content_size_in_bytes": sz,
            }
            for ref, (off, sz, card) in info.items()
        ]

    def _column_bounds(self, pqmeta) -> tuple[dict, dict, dict]:
        """Per-file lower/upper bounds and null counts keyed by field
        id, from the parquet footer statistics (free — the footer is
        already read for the row count). These become Iceberg manifest
        lower_bounds/upper_bounds (zone-map file skipping) and
        null_value_counts (residual-filter elimination needs a proven
        zero null count — see sources/iceberg._residual_implied).

        A column's id is the footer's own field id, so a position-delete
        file's ``file_path``/``pos`` stats land under the reserved ids
        2147483546/2147483545 (what lets `DeleteFileIndex` scope the
        file), never under a table column of the same name. A footer
        without field ids (``add_files`` of foreign parquet) is keyed by
        the table's column names, as the name mapping reads it."""
        try:
            name_to_id = {
                f.name: int(f.metadata[b"PARQUET:field_id"])
                for f in pqmeta.schema.to_arrow_schema()
                if f.metadata and b"PARQUET:field_id" in f.metadata
            }
        except (ValueError, NotImplementedError, TypeError):  # a type pyarrow cannot map, a malformed id
            name_to_id = {}
        name_to_id = name_to_id or {c.name: c.field_id for c in self.schema.columns}
        lowers: dict[int, Any] = {}
        uppers: dict[int, Any] = {}
        nulls: dict[int, int] = {}
        no_nulls: set[int] = set()  # fids with a row group lacking a null count
        for rg in range(pqmeta.num_row_groups):
            g = pqmeta.row_group(rg)
            for ci in range(g.num_columns):
                col = g.column(ci)
                fid = name_to_id.get(col.path_in_schema)
                if fid is None:
                    continue  # nested leaf (a.b) or unknown column
                try:
                    st = col.statistics
                except Exception:  # unsupported physical type for stats
                    st = None
                if st is None:
                    no_nulls.add(fid)
                    continue
                if not getattr(st, "has_null_count", False) or st.null_count is None:
                    no_nulls.add(fid)
                else:
                    nulls[fid] = nulls.get(fid, 0) + int(st.null_count)
                try:
                    if not st.has_min_max:
                        continue
                    mn, mx = st.min, st.max
                except Exception:  # unsupported physical type for min/max
                    continue
                if fid not in lowers or _cmp_lt(mn, lowers[fid]):
                    lowers[fid] = mn
                if fid not in uppers or _cmp_lt(uppers[fid], mx):
                    uppers[fid] = mx
        # a single stats-less row group makes the file's count unknowable
        return lowers, uppers, {f: n for f, n in nulls.items() if f not in no_nulls}

    def _write_parquet_files(self, df: DataFrame, subdir: str = "data", partitioned: bool = False) -> list[dict]:
        """Write df as parquet via Spark executors; move part files into
        the table tree; return manifest data_file dicts.

        Partitioned tables: rows are routed by `_p_<field>` computed
        columns (JVM-side transforms) so each output file belongs to
        exactly one partition (Iceberg invariant); the source columns
        stay in the file (unlike plain hive layout). Partition values
        are recovered from the directory names into typed manifest
        values used for read-side file pruning.

        The table's ``write.parquet.compression-codec`` (``zstd`` when
        unset) is Spark's ``compression``, as in Iceberg's own writer. A
        frame whose optimized plan is a ``LocalRelation`` — rows already
        on the driver — is coalesced to one task per 512 MiB (Iceberg's
        default target file size) of the rows' in-memory bytes, and
        never to more tasks than it had. Every other plan keeps its own
        partitioning: its size estimate is not the bytes it reads, so a
        coalesce could collapse a wide scan. Timestamps are written as
        INT64 microseconds, as the Iceberg spec asks, so they carry
        column bounds; the session's own ``outputTimestampType`` is
        restored after the write."""
        import pyarrow.parquet as pq

        from .plans.fs import is_local

        codec = _parquet_codec(self.meta.raw.get("properties", {}))
        self.spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() == "LocalRelation":
            # the rows' real bytes: the plan's stats() count a fixed size
            # per type (20 B a string), far too few for wide text or arrays
            held = self.spark._jvm.org.apache.spark.util.SizeEstimator.estimate(plan.data())
            df = df.coalesce(max(1, math.ceil(held / _TARGET_FILE_SIZE)))
        pfields = self.partition_fields if partitioned else []
        local = is_local(self.path)
        if local:
            tmp = os.path.join(self.path, f"_tmp_{uuid.uuid4().hex}")
        else:
            # Spark can't write to the python-side metadata filesystems
            # (memory://); stage locally — a non-empty result errors below
            import tempfile

            tmp = tempfile.mkdtemp(prefix="ice_stage_")
        if pfields:
            dtypes = dict(df.dtypes)
            writer = df.select(
                "*", *[spark_partition_column(pf, dtypes[pf.source]).alias(f"_p_{pf.name}") for pf in pfields]
            ).write.partitionBy(*[f"_p_{pf.name}" for pf in pfields])
        else:
            writer = df.write
        ts_type = "spark.sql.parquet.outputTimestampType"
        session_ts_type = self.spark.conf.get(ts_type)
        self.spark.conf.set(ts_type, "TIMESTAMP_MICROS")
        out = []
        try:
            writer.option("compression", codec).mode("overwrite").parquet(tmp)
            for root, _dirs, names in os.walk(tmp):
                for name in sorted(names):
                    if not name.endswith(".parquet"):
                        continue
                    src = os.path.join(root, name)
                    try:
                        md = pq.ParquetFile(src).metadata
                        n_rows = md.num_rows
                    except OSError:
                        # footer carries a logical type this pyarrow can't
                        # parse (e.g. Spark 4 VARIANT): count through Spark
                        # and skip column bounds for the file —
                        # correctness-safe (files without stats are never
                        # pruned), variant columns have no zone maps anyway
                        md = None
                        n_rows = self.spark.read.parquet(src).count()
                    if n_rows == 0:
                        continue
                    if not local:
                        from .plans.fs import scheme_of

                        raise ValueError(
                            f"Cannot write data files to a {scheme_of(self.path)}:// table: "
                            f"Spark itself must be able to write them. Point the table at a "
                            f"Spark-accessible location, or register existing parquet with "
                            f"add_files()."
                        )
                    rel = os.path.relpath(root, tmp)
                    partition = _parse_partition_dirs(rel, pfields, dict(df.dtypes) if pfields else {})
                    pdir = os.path.join(self.path, subdir, rel) if rel != "." else os.path.join(self.path, subdir)
                    os.makedirs(pdir, exist_ok=True)
                    dest = os.path.join(pdir, f"{uuid.uuid4().hex}.parquet")
                    shutil.move(src, dest)
                    lowers, uppers, nullcounts = (
                        self._column_bounds(md) if md is not None else ({}, {}, {})
                    )
                    out.append(
                        {
                            "file_path": dest,
                            "file_format": "PARQUET",
                            "record_count": n_rows,
                            "file_size_in_bytes": os.path.getsize(dest),
                            "partition": partition,
                            "lower_bounds": lowers,
                            "upper_bounds": uppers,
                            "null_value_counts": nullcounts,
                        }
                    )
        finally:
            # a failed write leaves no staging directory in the table
            self.spark.conf.set(ts_type, session_ts_type)
            shutil.rmtree(tmp, ignore_errors=True)
        return out

    def _aligned(self, df: DataFrame) -> DataFrame:
        """Conform df to the current schema (order, types, field-id
        metadata) so written parquet carries Iceberg field ids."""
        cols = [
            F.col(c.name)
            .cast(c.spark_type)
            .alias(c.name, metadata={"parquet.field.id": c.field_id})
            for c in self.schema.columns
        ]
        return df.select(*cols)

    def _current_manifests(self, base_snapshot_id: Optional[int] = None) -> list[dict]:
        if base_snapshot_id is not None:
            snap = self.meta.snapshot_by_id(base_snapshot_id)
        else:
            snap = self.meta.latest_snapshot() if self.meta.snapshots else None
        if snap is None:
            return []
        _, records = read_avro_file(snap.manifest_list)
        return records

    def _write_manifest(self, entries: list[dict], content: int, spec_id: int) -> dict:
        """Write one manifest (``content`` 0 = data, 1 = deletes) of
        manifest-entry records typed by partition spec ``spec_id``, and
        return its manifest-list record.

        Entries carry explicit sequence numbers. The record's file and
        row counts, ``min_sequence_number`` and v3 ``first_row_id`` are
        derived from the entries; its ``sequence_number`` and
        ``added_snapshot_id`` are left unassigned (None) for
        :meth:`_commit` to stamp with the committing snapshot's."""
        entry_schema = copy.deepcopy(_MANIFEST_ENTRY_SCHEMA)
        spec = next((s for s in self.meta.partition_specs if s.get("spec-id", 0) == spec_id), {})
        if spec.get("fields"):
            id_to_name = {c.field_id: c.name for c in self.schema.columns}
            pfields = [PartitionField.from_json(f, id_to_name[f["source-id"]]) for f in spec["fields"]]
            r102 = next(f for f in entry_schema["fields"] if f["name"] == "data_file")["type"]
            next(f for f in r102["fields"] if f["name"] == "partition")["type"]["fields"] = _partition_avro_fields(
                pfields, self.schema
            )
        mpath = os.path.join(self.path, "metadata", f"{uuid.uuid4().hex}-m{content}.avro")
        length = write_avro_file(
            mpath,
            entry_schema,
            entries,
            metadata={
                "schema": json.dumps(_schema_to_json(self.schema)),
                "partition-spec": json.dumps(spec.get("fields", [])),
                "partition-spec-id": str(spec_id),
                "format-version": str(self.format_version),
                "content": "data" if content == 0 else "deletes",
            },
            codec="deflate",
        )
        # spec: min over live entries; a fully tombstoned manifest keeps
        # the min over all of them
        live = [e for e in entries if e["status"] != 2] or entries
        # v3: manifest-level first_row_id = start of this manifest's id
        # space (files carry explicit ids too, so readers of either
        # convention agree)
        frids = [e["data_file"].get("first_row_id") for e in entries if content == 0]
        frids = [f for f in frids if f is not None]
        record = {
            "manifest_path": mpath,
            "manifest_length": length,
            "partition_spec_id": spec_id,
            "content": content,
            "sequence_number": None,
            "min_sequence_number": min(e["sequence_number"] for e in live),
            "added_snapshot_id": None,
            "first_row_id": min(frids) if frids else None,
        }
        for status, kind in ((0, "existing"), (1, "added"), (2, "deleted")):
            rows = [e["data_file"]["record_count"] for e in entries if e["status"] == status]
            record[f"{kind}_files_count"] = len(rows)
            record[f"{kind}_rows_count"] = sum(rows)
        return record

    def _tombstone_delete_entries(self, manifests: list[dict], keys: set[tuple], snap_id: int) -> list[dict]:
        """Rewrite carried delete manifests so entries matching
        ``keys`` — ``(file_path-as-stored, content_offset)`` of
        superseded deletion vectors — are marked status=DELETED in the
        new snapshot. The v3 spec forbids two live DVs for one data
        file; without this, a merged superset DV would coexist with
        the older DV it replaced and strict readers (Iceberg Java,
        DuckDB) could reject the table. Entries keep their original
        sequence numbers, made explicit; the rewritten manifest keeps
        its source's sequence number and adding snapshot."""
        out = []
        for m in manifests:
            if (m.get("content", 0) or 0) != 1:
                out.append(m)
                continue
            entries = _carried_entries(m)
            hits = [
                e
                for e in entries
                if e["status"] != 2 and (e["data_file"].get("file_path"), e["data_file"].get("content_offset")) in keys
            ]
            if not hits:
                out.append(m)
                continue
            for e in hits:
                e["status"], e["snapshot_id"] = 2, snap_id
            nm = self._write_manifest(entries, 1, m.get("partition_spec_id", 0) or 0)
            out.append({**nm, "sequence_number": m["sequence_number"], "added_snapshot_id": m["added_snapshot_id"]})
        return out

    def _commit(
        self,
        *,
        operation: str,
        new_data_files: list[dict] | None = None,
        new_delete_files: list[dict] | None = None,
        carried: Optional[list[dict]] = None,
        schemas_json: Optional[list[dict]] = None,
        current_schema_id: Optional[int] = None,
        last_column_id: Optional[int] = None,
        extra_summary: Optional[dict] = None,
        doc_updates: Optional[dict] = None,
        to_branch: Optional[str] = None,
    ) -> None:
        """Write manifests + manifest list + next vN metadata json: the
        one path by which every snapshot of this table is made.

        ``carried`` lists the manifest-list records the new snapshot
        keeps besides the manifests written for ``new_data_files`` /
        ``new_delete_files``; None carries every manifest of the base
        snapshot. Records whose ``sequence_number`` is unassigned
        (written for this commit by :meth:`_write_manifest`) get the
        new snapshot's sequence number and id.

        ``to_branch`` targets a named branch ref instead of the main
        head (Iceberg write-audit-publish): the new snapshot's base is
        the branch head (created from the current head if the branch
        doesn't exist yet), the branch ref advances, and
        current-snapshot-id / snapshot-log stay untouched until
        :meth:`fast_forward` publishes the branch."""
        doc = dict(self.meta.raw)
        seq = doc.get("last-sequence-number", 0) + 1
        snap_id = _new_snapshot_id()
        ts = _now_ms()
        meta_dir = os.path.join(self.path, "metadata")
        base_snapshot_id = None
        if to_branch is not None:
            ref = doc.get("refs", {}).get(to_branch)
            if ref is not None:
                if ref.get("type") != "branch":
                    raise ValueError(f"ref {to_branch!r} is a tag; writes require a branch")
                base_snapshot_id = ref["snapshot-id"]
            elif doc.get("current-snapshot-id", -1) != -1:
                base_snapshot_id = doc["current-snapshot-id"]
        manifests = self._current_manifests(base_snapshot_id) if carried is None else carried
        superseded, self._pending_superseded = self._pending_superseded, None
        if superseded and manifests:
            manifests = self._tombstone_delete_entries(manifests, set(superseded), snap_id)

        from .plans.bounds import serialize_bound

        # the table's columns and a position-delete file's file_path/pos
        id_to_type = {
            **{c.field_id: c.spark_type for c in self.schema.columns},
            2147483546: T.StringType(),
            2147483545: T.LongType(),
        }

        def kv_bounds(bounds: dict | None) -> list | None:
            if not bounds:
                return None
            out = []
            for fid, v in sorted(bounds.items()):
                if isinstance(v, bytes):
                    # already spec-serialized (entry carried over from an
                    # existing manifest, e.g. overwrite_partitions keep-list)
                    b = v
                else:
                    b = serialize_bound(v, id_to_type[fid]) if fid in id_to_type else None
                if b is not None:
                    out.append({"key": fid, "value": b})
            return out or None

        def kv_longs(counts: dict | None) -> list | None:
            if not counts:
                return None
            return [
                {"key": int(fid), "value": int(n)} for fid, n in sorted(counts.items())
            ] or None

        def added_entry(f: dict, content: int) -> dict:
            return {
                "status": 1,  # ADDED
                "snapshot_id": snap_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": {
                    "content": f.get("content", content),
                    "file_path": f["file_path"],
                    "file_format": f.get("file_format", "PARQUET"),
                    "partition": f.get("partition") or {},
                    "record_count": f["record_count"],
                    "file_size_in_bytes": f.get("file_size_in_bytes", 0),
                    "null_value_counts": kv_longs(f.get("null_value_counts")),
                    "lower_bounds": kv_bounds(f.get("lower_bounds")),
                    "upper_bounds": kv_bounds(f.get("upper_bounds")),
                    "equality_ids": f.get("equality_ids"),
                    "first_row_id": f.get("first_row_id"),
                    "referenced_data_file": f.get("referenced_data_file"),
                    "content_offset": f.get("content_offset"),
                    "content_size_in_bytes": f.get("content_size_in_bytes"),
                },
            }

        # Iceberg v3 row lineage: every new data file gets the _row_id
        # of its first row, chained off the table's next-row-id cursor
        # (spec field 142 + "next-row-id"); row N of the file is
        # first_row_id + N on read. Delete files never consume ids.
        # Known divergence: MoR UPDATE rewrites assign FRESH ids to the
        # rewritten rows (delete+insert lineage) rather than carrying
        # the old _row_id through — documented in iceberg_scan's
        # row_lineage doc.
        first_row_id_base = None
        if self.format_version >= 3:
            # every v3 snapshot carries first-row-id (spec: required),
            # equal to the pre-commit next-row-id when the commit
            # assigns no new ids (e.g. delete-only snapshots)
            cursor = int(doc.get("next-row-id", 0))
            first_row_id_base = cursor
            for f in new_data_files or []:
                # carried entries (overwrite keep-list) keep their ids
                if f.get("first_row_id") is None:
                    f["first_row_id"] = cursor
                    cursor += int(f["record_count"])
            doc["next-row-id"] = cursor
        spec_id = doc.get("default-spec-id", 0)
        for content, files in ((0, new_data_files), (1, new_delete_files)):
            if files:
                manifests = manifests + [self._write_manifest([added_entry(f, content) for f in files], content, spec_id)]
        manifests = [
            {**m, "sequence_number": seq, "added_snapshot_id": snap_id} if m["sequence_number"] is None else m
            for m in manifests
        ]

        ml_path = os.path.join(meta_dir, f"snap-{snap_id}-1-{uuid.uuid4().hex}.avro")
        write_avro_file(
            ml_path,
            _MANIFEST_FILE_SCHEMA,
            manifests,
            metadata={
                "format-version": str(self.format_version),
                "snapshot-id": str(snap_id),
                "sequence-number": str(seq),
            },
            codec="deflate",
        )

        summary = {"operation": operation}
        summary.update(extra_summary or {})
        snapshot = {
            "snapshot-id": snap_id,
            "sequence-number": seq,
            "timestamp-ms": ts,
            "manifest-list": ml_path,
            **({"first-row-id": first_row_id_base} if first_row_id_base is not None else {}),
            "schema-id": current_schema_id if current_schema_id is not None else doc.get("current-schema-id", 0),
            "summary": summary,
        }
        if base_snapshot_id is not None:
            snapshot["parent-snapshot-id"] = base_snapshot_id
        elif doc.get("current-snapshot-id", -1) != -1 and to_branch is None:
            snapshot["parent-snapshot-id"] = doc["current-snapshot-id"]
        doc["last-sequence-number"] = seq
        doc["last-updated-ms"] = ts
        doc["snapshots"] = doc.get("snapshots", []) + [snapshot]
        if to_branch is None:
            doc["current-snapshot-id"] = snap_id
            doc["snapshot-log"] = doc.get("snapshot-log", []) + [{"timestamp-ms": ts, "snapshot-id": snap_id}]
        else:
            refs = dict(doc.get("refs", {}))
            refs[to_branch] = {"snapshot-id": snap_id, "type": "branch"}
            doc["refs"] = refs
        if schemas_json is not None:
            doc["schemas"] = schemas_json
        if current_schema_id is not None:
            doc["current-schema-id"] = current_schema_id
        if last_column_id is not None:
            doc["last-column-id"] = last_column_id
        if doc_updates:
            doc.update(doc_updates)
        self._write_metadata(doc)

    def _write_metadata(self, doc: dict) -> None:
        meta_dir = os.path.join(self.path, "metadata")
        cur = int(os.path.basename(self.meta.metadata_path).lstrip("v").split(".")[0])
        nxt = cur + 1
        doc["metadata-log"] = doc.get("metadata-log", []) + [
            {"timestamp-ms": doc["last-updated-ms"], "metadata-file": self.meta.metadata_path}
        ]
        from .plans.fs import get_fs

        fs = get_fs(self.path)
        suffix = ".gz" if self.codec == "gzip" else ""
        mpath = os.path.join(meta_dir, f"v{nxt}{suffix}.metadata.json")
        # optimistic concurrency: the metadata version file is the CAS
        # token (hadoop-catalog convention). Exclusive-create makes the
        # commit atomic; a concurrent committer gets CommitConflictError
        # and should reload + replay (real catalogs do the same swap).
        try:
            fs.create_exclusive(mpath, _metadata_json_bytes(doc, self.codec))
        except FileExistsError as e:
            raise CommitConflictError(
                f"metadata version v{nxt} was committed concurrently for table {self.path}; "
                f"reload the table and retry the operation"
            ) from e
        # atomic hint swap: a plain truncate+write lets a concurrent
        # reader observe an EMPTY hint mid-write (seen as a streaming
        # source polling latestOffset during an append) — write-aside
        # + rename is atomic on POSIX.
        hint = os.path.join(meta_dir, "version-hint.text")
        fs.write_atomic(hint, str(nxt).encode())
        self.meta = load_table_metadata(self.path, metadata_compression_codec=self.codec)

    # -- write operations -------------------------------------------------

    def append(self, df: DataFrame, to_branch: Optional[str] = None) -> None:
        """Append a snapshot; ``to_branch`` stages the commit on a
        branch ref (write-audit-publish) instead of the main head —
        readers of the table see nothing until :meth:`fast_forward`."""
        files = self._write_parquet_files(self._aligned(df), partitioned=True)
        self._commit(
            operation="append",
            new_data_files=files,
            extra_summary={"added-data-files": str(len(files)), "added-records": str(sum(f["record_count"] for f in files))},
            to_branch=to_branch,
        )

    def add_files(self, parquet_paths: list[str], file_format: str = "PARQUET") -> None:
        """Register existing data files into the table WITHOUT
        rewriting them (Iceberg's `add_files` migration procedure):
        footers are read for record counts and zone-map bounds, a new
        append snapshot references the files in place. O(#files)
        driver work, zero data movement — the way to adopt an existing
        100 TB parquet lake into Iceberg metadata.

        ``file_format`` may also be ``"ORC"`` (row counts from the ORC
        footer via pyarrow.orc; no column bounds — ORC files are never
        stats-pruned) or ``"AVRO"`` (decoded once driver-side by the
        pure-Python codec for the record count — adopt-time cost only;
        scans decode executor-side). The manifests record the per-file
        format and iceberg_scan routes each format to its reader —
        the reference parses file_format but assumes PARQUET
        (src/common/iceberg.cpp), mis-reading such tables.

        Files must match the table schema (footer column names, and for
        parquet each column's type, `_unreadable_columns`) and the table
        must be unpartitioned (partition values can't be derived from
        externally-laid-out files). A file that fails raises
        ``ValueError`` and nothing is committed."""
        import pyarrow.parquet as pq

        if self.partition_fields:
            raise ValueError("add_files requires an unpartitioned table")
        fmt = file_format.upper()
        if fmt not in ("PARQUET", "ORC", "AVRO"):
            raise ValueError(f"add_files supports PARQUET/ORC/AVRO, got {file_format!r}")
        cols = {c.name for c in self.schema.columns}
        entries = []
        any_without_ids = False
        from .plans.fs import abspath as _fs_abspath
        from .plans.fs import arrow_fs_path

        for p in parquet_paths:
            p = _fs_abspath(p)  # URLs (s3://...) pass through unchanged
            afs, ap = arrow_fs_path(p)
            if fmt == "ORC":
                import pyarrow.orc as _orc

                of = _orc.ORCFile(ap) if afs is None else _orc.ORCFile(afs.open_input_file(ap))
                got = set(of.schema.names)
                n_rows, lowers, uppers, nullcounts = of.nrows, {}, {}, {}
            elif fmt == "AVRO":
                _, records = read_avro_file(p)
                got = set(records[0]) if records else cols
                n_rows, lowers, uppers, nullcounts = len(records), {}, {}, {}
            else:
                md = pq.ParquetFile(ap, filesystem=afs).metadata
                arrow_schema = md.schema.to_arrow_schema()
                got = set(arrow_schema.names)
                bad = _unreadable_columns(self.schema, md)
                if bad:
                    raise ValueError(f"File {p} stores columns the table cannot read: {'; '.join(bad)}")
                if not any(
                    (f.metadata or {}).get(b"PARQUET:field_id") is not None
                    for f in arrow_schema
                ):
                    any_without_ids = True
                n_rows = md.num_rows
                lowers, uppers, nullcounts = self._column_bounds(md)
            if not cols <= got:
                raise ValueError(
                    f"File {p} is missing table columns {sorted(cols - got)}"
                )
            entries.append(
                {
                    "file_path": p,
                    "file_format": fmt,
                    "record_count": n_rows,
                    "file_size_in_bytes": (
                        afs.get_file_info(ap).size if afs is not None else os.path.getsize(p)
                    ),
                    "partition": {},
                    "lower_bounds": lowers,
                    "upper_bounds": uppers,
                    "null_value_counts": nullcounts,
                }
            )
        doc_updates = None
        if any_without_ids:
            # Imported footers carry no parquet field ids, so field-id
            # resolution would read them as all-NULL. Record the Iceberg
            # name mapping (spec: schema.name-mapping.default) binding
            # each field id to the column names it may appear under;
            # the scan reads such files by mapped name. Merged with any
            # existing mapping so files imported before a rename keep
            # resolving under their old names.
            props = dict(self.meta.raw.get("properties", {}))
            existing = {}
            if "schema.name-mapping.default" in props:
                for e in json.loads(props["schema.name-mapping.default"]):
                    existing[e["field-id"]] = list(e.get("names", []))
            for c in self.schema.columns:
                names = existing.setdefault(c.field_id, [])
                if c.name not in names:
                    names.append(c.name)
            props["schema.name-mapping.default"] = json.dumps(
                [{"field-id": fid, "names": names} for fid, names in sorted(existing.items())]
            )
            doc_updates = {"properties": props}
        self._commit(
            operation="append",
            new_data_files=entries,
            extra_summary={"added-data-files": str(len(entries)), "added-files-imported": "true"},
            doc_updates=doc_updates,
        )

    def insert_sql(self, select_sql: str) -> None:
        """INSERT INTO t <select> with the current table visible as `t`."""
        self.scan().createOrReplaceTempView("t")
        self.append(self.spark.sql(select_sql))

    def overwrite_partitions(self, df: DataFrame) -> None:
        """Dynamic partition overwrite (INSERT OVERWRITE semantics):
        atomically replace exactly the partitions present in `df`,
        keeping every other partition's files untouched (file-level
        metadata swap — untouched partitions are never read or
        rewritten, so the cost is O(changed partitions) at any table
        size).

        Tables with outstanding delete files must be compacted first
        (`rewrite_data_files()`): carrying old delete files across an
        overwrite while re-sequencing kept data files would corrupt
        sequence-scoped delete semantics, so this refuses instead."""
        from .plans.manifests import load_table_scan

        if not self.partition_fields:
            raise ValueError("overwrite_partitions requires a partitioned table")
        snap = self.meta.latest_snapshot() if self.meta.snapshots else None
        kept: list[dict] = []
        if snap is not None:
            scan = load_table_scan(self.meta, snap, self.path, False)
            if scan.positional_delete_files() or scan.equality_delete_files():
                raise ValueError(
                    "overwrite_partitions on a table with delete files: run "
                    "rewrite_data_files() first to materialize deletes"
                )
            new_files = self._write_parquet_files(self._aligned(df), partitioned=True)
            targets = {tuple(sorted(f["partition"].items())) for f in new_files}
            for e in scan.data_files():
                if tuple(sorted((e.partition or {}).items())) not in targets:
                    kept.append(
                        {
                            "file_path": e.file_path,
                            "file_format": e.file_format,
                            "record_count": e.record_count,
                            "file_size_in_bytes": e.file_size_in_bytes,
                            "partition": e.partition,
                            "lower_bounds": e.lower_bounds,
                            "upper_bounds": e.upper_bounds,
                            "null_value_counts": e.null_value_counts,
                            # v3 row lineage: carried files keep their ids
                            "first_row_id": e.first_row_id,
                        }
                    )
        else:
            new_files = self._write_parquet_files(self._aligned(df), partitioned=True)
            targets = {tuple(sorted(f["partition"].items())) for f in new_files}
        self._commit(
            operation="overwrite",
            new_data_files=kept + new_files,
            carried=[],
            extra_summary={
                "replaced-partitions": str(len(targets)),
                "kept-data-files": str(len(kept)),
            },
        )

    def _row_level_commit(self, operation: str, deleted: Optional[DataFrame], parts: list[DataFrame] = ()) -> None:
        """The commit of every row-level write: position deletes for the
        ``deleted`` target rows (carrying ``__file``/``__pos``), one
        data-file write of the row frames ``parts``, each conformed to
        the table schema first (a merge source may carry other columns
        or types than its updated rows), and one snapshot holding both.
        No snapshot when both come out empty. With both writes,
        ``deleted`` is cached for their span: the rows built from it
        read the target rows it found instead of a second scan."""
        cached = deleted.persist() if deleted is not None and parts else None
        try:
            del_files = [] if deleted is None else self._write_position_deletes(deleted)
            rows = functools.reduce(DataFrame.unionByName, map(self._aligned, parts)) if parts else None
            new_files = [] if rows is None else self._write_parquet_files(rows, partitioned=True)
        finally:
            if cached is not None:
                cached.unpersist()
        if not del_files and not new_files:
            return
        n = self._added_pos_deletes(del_files)
        event = dict(operation=operation, data_files=len(new_files), delete_files=len(del_files), deleted_positions=n)
        _log.debug("row-level commit: %s", event, extra=event)
        self._commit(
            operation=operation,
            new_data_files=new_files,
            new_delete_files=del_files,
            extra_summary={"added-position-deletes": str(n), "total-position-deletes": str(self._total_pos_deletes() + n)},
        )

    def delete_where(self, condition) -> None:
        """Merge-on-read DELETE: write position-delete files for matched
        rows (no data-file rewrite). ``condition`` is a Column or a SQL
        string; either also prunes the scanned data files by partition
        values and column bounds, as ``iceberg_scan(where=)`` does."""
        self._row_level_commit("delete", self._scan_with_pos(where=condition))

    def update_where(self, condition, assignments: dict) -> None:
        """Merge-on-read UPDATE: position-delete matched rows + append
        re-written rows with ``assignments`` applied, in order, each a
        SQL expression string, Column or literal. ``condition`` is
        taken as by :meth:`delete_where`."""
        matched = self._scan_with_pos(where=condition)
        updated = matched
        for col, val in assignments.items():
            updated = updated.withColumn(col, _as_column(val))
        self._row_level_commit("overwrite", matched, [updated])

    def merge(
        self,
        source: DataFrame,
        on: str | list[str],
        *,
        when_matched_update: Optional[dict] = None,
        when_matched_delete: bool = False,
        when_not_matched_insert: bool = True,
    ) -> None:
        """MERGE INTO (merge-on-read): one commit containing
        position-deletes for matched target rows plus appended rows for
        their replacements and for unmatched source rows, written
        together as one data write.

        - ``when_matched_update``: {col: sql_expr/Column/literal} —
          expressions may reference target columns and source columns
          as ``src.<col>``;
        - ``when_matched_delete=True``: matched rows are deleted
          (mutually exclusive with update);
        - ``when_not_matched_insert``: source rows with no target match
          are appended (source must be schema-compatible).

        Keys match with ``=``, as in SQL MERGE: a NULL key matches
        nothing, so a NULL-key source row is inserted. A target row
        matched by two source rows under ``when_matched_update`` raises
        SQL MERGE's cardinality error and commits nothing.

        The classic upsert is ``merge(src, on=key,
        when_matched_update={...}, when_not_matched_insert=True)``.
        """
        if when_matched_update and when_matched_delete:
            raise ValueError("choose either when_matched_update or when_matched_delete")
        keys = [on] if isinstance(on, str) else list(on)
        src = source.alias("src")
        cond = functools.reduce(Column.__and__, [F.col(f"tgt.{k}") == F.col(f"src.{k}") for k in keys])
        upd, parts = when_matched_update, []
        # the target rows the commit deletes; a semi join when no source
        # column is read, so a repeated source key cannot repeat a row
        matched = self._scan_with_pos().alias("tgt").join(src, cond, "inner" if upd else "left_semi")
        if upd:
            cols = [
                (_as_column(upd[c.name]) if c.name in upd else F.col(f"tgt.{c.name}")).alias(c.name)
                for c in self.schema.columns
            ]
            parts.append(matched.select(*cols))
        if when_not_matched_insert:
            parts.append(src.join(matched.select(*[F.col(f"tgt.{k}").alias(k) for k in keys]), keys, "left_anti"))
        self._row_level_commit("overwrite", matched if upd or when_matched_delete else None, parts)

    def delete_where_equality(self, keys_df: DataFrame) -> None:
        """Equality-delete commit: rows matching ANY row of ``keys_df``
        (on its columns) are deleted. Writes an Iceberg
        equality-delete file (content=2, equality_ids = the key
        columns' field ids) scoped by sequence number.

        The reference reads such tables INCORRECTLY (treats every
        delete file as positional, reference iceberg_scan.cpp:167-169);
        our scan applies them as a sequence-scoped anti join —
        deliberate spec-correct divergence (SURVEY.md §7.5)."""
        name_to_id = {c.name: c.field_id for c in self.schema.columns}
        cols = keys_df.columns
        unknown = [c for c in cols if c not in name_to_id]
        if unknown:
            raise ValueError(f"equality-delete columns not in schema: {unknown}")
        aligned = keys_df.select(
            *[
                F.col(c).cast(dict((cc.name, cc.spark_type) for cc in self.schema.columns)[c])
                .alias(c, metadata={"parquet.field.id": name_to_id[c]})
                for c in cols
            ]
        ).dropDuplicates()
        files = self._write_parquet_files(aligned)
        for f in files:
            f["content"] = 2
            f["equality_ids"] = [name_to_id[c] for c in cols]
        if not files:
            return
        self._commit(
            operation="delete",
            new_delete_files=files,
            extra_summary={"added-equality-deletes": str(sum(f["record_count"] for f in files))},
        )

    # -- DDL (schema evolution) -------------------------------------------

    def add_column(self, name: str, iceberg_type: str, default: Any = None) -> None:
        """ALTER TABLE ADD COLUMN [DEFAULT] — new schema version;
        existing rows surface `default` via initial-default (v2 spec)."""
        new_id = self.meta.raw.get("last-column-id", _max_field_id(self.schema)) + 1
        col = IcebergColumn(
            field_id=new_id,
            name=name,
            spark_type=parse_iceberg_type(iceberg_type),
            required=False,
            initial_default=default,
            write_default=default,
        )
        self._evolve_schema(self.schema.columns + [col], last_column_id=new_id)

    def alter_column_type(self, name: str, iceberg_type: str) -> None:
        """ALTER COLUMN TYPE (widening: int→long, float→double,
        decimal precision growth)."""
        cols = []
        for c in self.schema.columns:
            if c.name == name:
                c = IcebergColumn(
                    field_id=c.field_id,
                    name=c.name,
                    spark_type=parse_iceberg_type(iceberg_type),
                    required=c.required,
                    initial_default=c.initial_default,
                    write_default=c.write_default,
                )
            cols.append(c)
        self._evolve_schema(cols, last_column_id=self.meta.raw.get("last-column-id"))

    def rename_column(self, old: str, new: str) -> None:
        """ALTER TABLE RENAME COLUMN — field-id identity keeps data files
        readable with no rewrite."""
        cols = [
            IcebergColumn(c.field_id, new if c.name == old else c.name, c.spark_type, c.required, c.initial_default, c.write_default)
            for c in self.schema.columns
        ]
        self._evolve_schema(cols, last_column_id=self.meta.raw.get("last-column-id"))

    def drop_column(self, name: str) -> None:
        """ALTER TABLE DROP COLUMN — metadata-only."""
        cols = [c for c in self.schema.columns if c.name != name]
        self._evolve_schema(cols, last_column_id=self.meta.raw.get("last-column-id"))

    def add_partition_field(self, spec_entry) -> None:
        """Partition evolution (`ALTER TABLE ... ADD PARTITION FIELD`):
        append a field to the partition spec as a NEW spec-id and make
        it the default. Metadata-only — existing data files keep their
        old-spec partition structs; only future writes are routed (and
        prunable) by the new field. The read side keeps old-spec files
        on a new-field ``partition_filter`` or ``where=`` equality
        (their rows may match), which is exactly the Iceberg spec's
        mixed-spec scan behavior.

        Accepts the same syntax as ``create(partition_by=...)``:
        ``"col"``, ``"years(col)"``, ``("bucket", 4, "col")`` ...
        """
        doc = dict(self.meta.raw)
        specs = doc.get("partition-specs", [])
        cur_id = doc.get("default-spec-id", 0)
        cur = next((s for s in specs if s.get("spec-id", 0) == cur_id), {"fields": []})
        max_pfid = max(
            (f["field-id"] for s in specs for f in s.get("fields", [])), default=999
        )
        pf = _parse_spec_entry(spec_entry, max_pfid + 1)
        name_to_id = {c.name: c.field_id for c in self.schema.columns}
        if pf.source not in name_to_id:
            raise ValueError(f"partition source column {pf.source!r} not in schema")
        if any(f["name"] == pf.name for f in cur.get("fields", [])):
            raise ValueError(f"partition field {pf.name!r} already exists")
        new_spec = {
            "spec-id": max((s.get("spec-id", 0) for s in specs), default=-1) + 1,
            "fields": list(cur.get("fields", []))
            + [
                {
                    "name": pf.name,
                    "transform": pf.transform_str(),
                    "source-id": name_to_id[pf.source],
                    "field-id": pf.field_id,
                }
            ],
        }
        doc["partition-specs"] = specs + [new_spec]
        doc["default-spec-id"] = new_spec["spec-id"]
        doc["last-partition-id"] = pf.field_id
        doc["last-updated-ms"] = _now_ms()
        self._write_metadata(doc)

    def remove_partition_field(self, name: str) -> None:
        """Partition evolution (`DROP PARTITION FIELD`): new default
        spec without the field. Metadata-only; existing files keep
        their partition values and stay prunable through their own
        spec, new writes stop routing by the dropped field."""
        doc = dict(self.meta.raw)
        specs = doc.get("partition-specs", [])
        cur_id = doc.get("default-spec-id", 0)
        cur = next((s for s in specs if s.get("spec-id", 0) == cur_id), {"fields": []})
        if not any(f["name"] == name for f in cur.get("fields", [])):
            raise ValueError(f"partition field {name!r} not in current spec")
        new_spec = {
            "spec-id": max((s.get("spec-id", 0) for s in specs), default=-1) + 1,
            "fields": [f for f in cur.get("fields", []) if f["name"] != name],
        }
        doc["partition-specs"] = specs + [new_spec]
        doc["default-spec-id"] = new_spec["spec-id"]
        doc["last-updated-ms"] = _now_ms()
        self._write_metadata(doc)

    def _evolve_schema(self, cols: list[IcebergColumn], last_column_id: Optional[int]) -> None:
        doc = dict(self.meta.raw)
        new_schema_id = max(self.meta.schemas) + 1
        new_schema = IcebergSchema(schema_id=new_schema_id, columns=cols)
        doc["schemas"] = doc.get("schemas", []) + [_schema_to_json(new_schema)]
        doc["current-schema-id"] = new_schema_id
        if last_column_id is not None:
            doc["last-column-id"] = last_column_id
        doc["last-updated-ms"] = _now_ms()
        self._write_metadata(doc)

    def set_properties(self, props: dict) -> None:
        """ALTER TABLE SET TBLPROPERTIES — metadata-only version bump.
        An unknown ``write.parquet.compression-codec`` raises ValueError
        and changes nothing."""
        doc = dict(self.meta.raw)
        merged = dict(doc.get("properties", {}))
        merged.update({str(k): str(v) for k, v in props.items()})
        _parquet_codec(merged)
        doc["properties"] = merged
        doc["last-updated-ms"] = _now_ms()
        self._write_metadata(doc)

    def remove_properties(self, keys: list[str]) -> None:
        """ALTER TABLE UNSET TBLPROPERTIES."""
        doc = dict(self.meta.raw)
        props = dict(doc.get("properties", {}))
        for k in keys:
            props.pop(k, None)
        doc["properties"] = props
        doc["last-updated-ms"] = _now_ms()
        self._write_metadata(doc)

    # -- maintenance ------------------------------------------------------

    def compute_statistics(self, columns: Optional[list[str]] = None, *, exact: bool = True) -> dict:
        """Write a Puffin TABLE-STATISTICS file with one NDV blob per
        column and register it under metadata.json ``statistics``
        (Iceberg spec "Table statistics" — the reference reads no
        stats at all; Trino/Spark planners use the blob ``ndv``
        property for join sizing, and so does this engine's
        :func:`~.sources.iceberg.iceberg_join`).

        ``exact=True`` computes COUNT(DISTINCT col) — one aggregation
        pass over the live rows, oracle-comparable, the
        'exact-from-distincts-projection' option; ``exact=False`` uses
        approx_count_distinct (HLL, single no-shuffle-heavy pass), the
        100 TB path where a 2% ndv error is irrelevant to a broadcast
        decision. The blob payload is the 8-byte LE ndv
        (``ndv-long-v1``, an engine extension type — a
        spec-conformant reader that only understands theta sketches
        still gets the number from the ``ndv`` property, which is the
        part the ecosystem actually consumes)."""
        import struct as _struct

        from .plans.puffin import write_puffin_stats_file

        atomic = [
            c
            for c in self.schema.columns
            if not str(c.spark_type).startswith(
                ("ArrayType", "MapType", "StructType", "VariantType")
            )
        ]
        cols = [c for c in atomic if columns is None or c.name in set(columns)]
        if not cols:
            raise ValueError("no eligible columns for statistics")
        fn = F.countDistinct if exact else F.approx_count_distinct
        row = self.scan().agg(*[fn(c.name).alias(c.name) for c in cols]).first()
        snap = self.meta.latest_snapshot()
        snap_id = snap.snapshot_id if snap is not None else -1
        seq = self.meta.raw.get("last-sequence-number", 0)
        path = os.path.join(
            self.path, "metadata", f"{uuid.uuid4().hex}-stats.puffin"
        )
        blobs = [
            {
                "type": "ndv-long-v1",
                "fields": [c.field_id],
                "properties": {"ndv": str(int(row[c.name] or 0))},
                "payload": _struct.pack("<q", int(row[c.name] or 0)),
            }
            for c in cols
        ]
        entry = write_puffin_stats_file(
            path, blobs, snapshot_id=snap_id, sequence_number=seq
        )
        doc = dict(self.meta.raw)
        doc["statistics"] = [
            s for s in doc.get("statistics", []) if s.get("snapshot-id") != snap_id
        ] + [entry]
        doc["last-updated-ms"] = _now_ms()
        self._write_metadata(doc)
        return entry

    def rewrite_data_files(
        self,
        target_file_size_bytes: int = _TARGET_FILE_SIZE,
        sort_by: Optional[list[str]] = None,
        zorder_by: Optional[list[str]] = None,
        collect_statistics: bool = False,
    ) -> None:
        """Compaction: materialize current live rows (deletes applied),
        write right-sized data files, commit a `replace` snapshot that
        references ONLY the new files. ``target_file_size_bytes``
        defaults to Iceberg's 512 MiB, the size the writer sizes a
        driver-held batch by.

        ``sort_by`` range-partitions and sorts rows by the given
        columns, so each output file covers a narrow value range —
        this is what makes the manifest column bounds (zone maps)
        selective: post-sort, a ``where=`` point lookup touches one
        file instead of all of them.

        ``zorder_by`` clusters on a Morton (Z-order) curve over 2+
        numeric columns: each column is min-max-quantized to 16 bits
        and the bits interleaved (pure JVM expressions), then files
        are range-partitioned by the z-value — zone maps become
        selective on EVERY z-ordered column at once, where sort_by
        only helps its leading column. The min/max normalization
        scalars are the only driver-side data (2 numbers per column).
        """
        from .plans.manifests import load_table_scan

        if sort_by and zorder_by:
            raise ValueError("sort_by and zorder_by are mutually exclusive")
        snap = self.meta.latest_snapshot()
        scan = load_table_scan(self.meta, snap, self.path, False)
        total_bytes = sum(e.file_size_in_bytes for e in scan.data_files()) or 1
        n_files = max(1, math.ceil(total_bytes / target_file_size_bytes))
        df = self.scan()
        if zorder_by:
            stats = df.agg(
                *[F.min(c).alias(f"mn_{c}") for c in zorder_by],
                *[F.max(c).alias(f"mx_{c}") for c in zorder_by],
            ).first()
            k = len(zorder_by)
            z = F.lit(0).cast("long")
            for j, c in enumerate(zorder_by):
                mn, mx = float(stats[f"mn_{c}"]), float(stats[f"mx_{c}"])
                span = (mx - mn) or 1.0
                q = F.least(
                    F.lit(65535),
                    F.floor((F.col(c).cast("double") - F.lit(mn)) / F.lit(span) * 65535).cast("long"),
                )
                for i in range(16):
                    z = z.bitwiseOR(
                        F.shiftleft(F.shiftright(q, i).bitwiseAND(F.lit(1)), i * k + j)
                    )
            df = (
                df.withColumn("__z", z)
                .repartitionByRange(n_files, "__z")
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif sort_by:
            df = df.repartitionByRange(n_files, *sort_by).sortWithinPartitions(*sort_by)
        else:
            df = df.repartition(n_files)
        files = self._write_parquet_files(self._aligned(df), partitioned=True)
        doc_updates = None
        if sort_by:
            # record the write order in table metadata (Iceberg
            # sort-orders), so readers/planners know files are
            # clustered by these columns
            name_to_id = {c.name: c.field_id for c in self.schema.columns}
            orders = list(self.meta.raw.get("sort-orders", []))
            order_id = max((o.get("order-id", 0) for o in orders), default=0) + 1
            orders.append(
                {
                    "order-id": order_id,
                    "fields": [
                        {
                            "transform": "identity",
                            "source-id": name_to_id[c],
                            "direction": "asc",
                            "null-order": "nulls-first",
                        }
                        for c in sort_by
                    ],
                }
            )
            doc_updates = {"sort-orders": orders, "default-sort-order-id": order_id}
        self._commit(
            operation="replace",
            new_data_files=files,
            carried=[],
            extra_summary={"total-position-deletes": "0", "rewritten-to-files": str(len(files))},
            doc_updates=doc_updates,
        )
        if collect_statistics:
            # compaction just rewrote every live row — the cheapest
            # moment to refresh table statistics (Spark's
            # rewrite_data_files offers the same coupling)
            self.compute_statistics()

    def rewrite_manifests(self) -> None:
        """Consolidate the manifest tree: merge all live manifest
        entries into ONE manifest per (content type, partition spec)
        and commit a snapshot referencing only the merged manifests
        (Spark's `rewrite_manifests` procedure,
        reference scripts/provision.py uses the same runtime surface).

        A long-lived table accumulates one manifest Avro file per
        commit; at 100 TB that is thousands of small metadata files
        the driver must open serially before ANY scan can plan.
        Merging them is pure metadata work — zero data movement,
        O(#entries) driver time — and restores O(specs) manifest opens
        per scan.

        Entry identity is preserved exactly: each carried entry keeps
        its original ``sequence_number`` / ``file_sequence_number`` /
        ``snapshot_id`` and v3 ``first_row_id`` (inherited values made
        explicit) and is re-marked status=EXISTING, so sequence-scoped
        delete application and row lineage are unaffected. Manifests
        are merged per spec-id (never across): an Iceberg manifest's
        partition struct is typed by its spec, and collapsing specs
        would turn "field absent" (old-spec file, must survive
        pruning on the new field) into "field null" (prunable).
        """
        groups: dict[tuple[int, int], list[dict]] = {}
        manifests = self._current_manifests()
        for m in manifests:
            key = (m.get("content", 0) or 0, m.get("partition_spec_id", 0) or 0)
            for e in _carried_entries(m):
                if e["status"] != 2:  # DELETED: drop from merged view
                    groups.setdefault(key, []).append({**e, "status": 0})  # EXISTING
        merged = [self._write_manifest(entries, *key) for key, entries in sorted(groups.items())]
        self._commit(
            operation="replace",
            carried=merged,
            extra_summary={
                "manifests-replaced": str(len(manifests)),
                "manifests-created": str(len(merged)),
                "total-position-deletes": str(self._total_pos_deletes()),
            },
        )

    def expire_snapshots(self, keep_last: int = 1, older_than_ms: Optional[int] = None) -> None:
        """Drop expired snapshots from metadata (pair with
        remove_orphan_files to reclaim storage). ``keep_last`` retains
        the newest N; ``older_than_ms`` additionally retains everything
        at-or-after that timestamp (the Spark procedure's `older_than`
        — both conditions must agree to expire). Snapshots pinned by a
        tag or branch ref are ALWAYS retained — expiring a named
        version out from under its ref is how real Iceberg deployments
        lose reproducibility, so refs win over both rules. The current
        snapshot is never expired."""
        doc = dict(self.meta.raw)
        snaps = sorted(doc.get("snapshots", []), key=lambda s: s["timestamp-ms"])
        ref_ids = {r["snapshot-id"] for r in doc.get("refs", {}).values()}
        keep_ids = {s["snapshot-id"] for s in snaps[-keep_last:]} | ref_ids
        if older_than_ms is not None:
            keep_ids |= {s["snapshot-id"] for s in snaps if s["timestamp-ms"] >= older_than_ms}
        cur = doc.get("current-snapshot-id", -1)
        if cur != -1:
            keep_ids.add(cur)
        keep = [s for s in snaps if s["snapshot-id"] in keep_ids]
        doc["snapshots"] = keep
        doc["snapshot-log"] = [e for e in doc.get("snapshot-log", []) if e["snapshot-id"] in keep_ids]
        doc["last-updated-ms"] = _now_ms()
        self._write_metadata(doc)

    # -- refs: tags & branches (Iceberg v2 `refs` map) --------------------

    def create_tag(self, name: str, snapshot_id: Optional[int] = None) -> None:
        """Name a snapshot (immutable ref). Tagged snapshots survive
        expire_snapshots-by-count semantics in real Iceberg; here they
        give stable names for time travel: ``scan(tag="v1.0")``."""
        self._set_ref(name, snapshot_id, "tag")

    def create_branch(self, name: str, snapshot_id: Optional[int] = None) -> None:
        """Name a movable ref (branch head). Reads target it via
        ``scan(branch=...)``; writes target it via
        ``append(to_branch=...)`` (write-audit-publish), and
        :meth:`fast_forward` publishes it to the main head."""
        self._set_ref(name, snapshot_id, "branch")

    def fast_forward(self, branch: str) -> None:
        """Publish a branch (`fast_forward` procedure): the main head
        moves to the branch's snapshot. The write-audit-publish
        'publish' step — until this call, snapshots appended with
        ``to_branch=`` are invisible to plain reads.

        Like Iceberg's ``fast_forward`` procedure, the move must be a
        true fast-forward: the current main head must be an ancestor
        of the branch head (walking parent-snapshot-id). If main
        advanced concurrently after the branch was created, publishing
        would silently discard those commits — that case raises
        instead; rebase the branch (re-stage its writes on the new
        head) and retry."""
        ref = self.meta.raw.get("refs", {}).get(branch)
        if ref is None or ref.get("type") != "branch":
            raise ValueError(f"No branch named {branch!r}")
        head = ref["snapshot-id"]
        cur = self.meta.current_snapshot_id
        if cur is not None and cur != -1 and cur != head:
            by_id = {s.snapshot_id: s for s in self.meta.snapshots}
            sid, is_ancestor = head, False
            while sid is not None and sid in by_id:
                if sid == cur:
                    is_ancestor = True
                    break
                sid = by_id[sid].parent_snapshot_id
            if not is_ancestor:
                raise ValueError(
                    f"Cannot fast-forward main to branch {branch!r}: the current "
                    f"main snapshot {cur} is not an ancestor of the branch head "
                    f"{head} (main advanced concurrently; rebase the branch and retry)"
                )
        self.rollback_to(head)

    def _set_ref(self, name: str, snapshot_id: Optional[int], ref_type: str) -> None:
        doc = dict(self.meta.raw)
        sid = snapshot_id if snapshot_id is not None else self.meta.latest_snapshot().snapshot_id
        if sid not in {s["snapshot-id"] for s in doc.get("snapshots", [])}:
            raise ValueError(f"Could not find snapshot with id {sid}")
        refs = dict(doc.get("refs", {}))
        refs[name] = {"snapshot-id": sid, "type": ref_type}
        doc["refs"] = refs
        doc["last-updated-ms"] = _now_ms()
        self._write_metadata(doc)

    def drop_ref(self, name: str) -> None:
        doc = dict(self.meta.raw)
        refs = dict(doc.get("refs", {}))
        if name not in refs:
            raise ValueError(f"Ref {name} does not exist")
        del refs[name]
        doc["refs"] = refs
        doc["last-updated-ms"] = _now_ms()
        self._write_metadata(doc)

    def refs(self) -> dict:
        return dict(self.meta.raw.get("refs", {}))

    def ref_snapshot_id(self, name: str) -> int:
        refs = self.refs()
        if name not in refs:
            raise ValueError(f"Ref {name} does not exist")
        return refs[name]["snapshot-id"]

    def rollback_to(self, snapshot_id: int) -> None:
        """Point the table back at an earlier snapshot (the Spark
        `rollback_to_snapshot` procedure): current-snapshot-id moves,
        a new snapshot-log entry records the change, and NO data or
        snapshot is deleted — the abandoned snapshots stay readable
        via time travel until expire_snapshots()."""
        doc = dict(self.meta.raw)
        ids = {s["snapshot-id"] for s in doc.get("snapshots", [])}
        if snapshot_id not in ids:
            raise ValueError(f"Could not find snapshot with id {snapshot_id}")
        ts = _now_ms()
        doc["current-snapshot-id"] = snapshot_id
        doc["snapshot-log"] = doc.get("snapshot-log", []) + [
            {"timestamp-ms": ts, "snapshot-id": snapshot_id}
        ]
        doc["last-updated-ms"] = ts
        self._write_metadata(doc)

    def remove_orphan_files(self, older_than_ms: Optional[int] = None) -> list[str]:
        """Delete data/delete/avro files referenced by NO remaining
        snapshot. Returns removed paths.

        ``older_than_ms`` (epoch millis) only removes files whose
        mtime predates the cutoff — the Spark procedure's safety
        window: a concurrent writer's just-written files are not yet
        referenced by any snapshot and would otherwise be deleted out
        from under its pending commit."""
        from .plans.fs import is_local

        if not is_local(self.path):
            raise ValueError(
                "remove_orphan_files requires a local table path (it walks the "
                "directory tree); object-store lifecycles handle remote orphans"
            )
        referenced: set[str] = set()
        for s in self.meta.snapshots:
            referenced.add(os.path.abspath(s.manifest_list))
            _, mans = read_avro_file(s.manifest_list)
            for m in mans:
                mp = os.path.abspath(m["manifest_path"])
                referenced.add(mp)
                _, entries = read_avro_file(mp)
                for e in entries:
                    referenced.add(os.path.abspath(e["data_file"]["file_path"]))
        removed = []
        for sub, exts in (("data", (".parquet",)), ("metadata", (".avro",))):
            top = os.path.join(self.path, sub)
            if not os.path.isdir(top):
                continue
            for root, _dirs, names in os.walk(top):
                for name in names:
                    p = os.path.abspath(os.path.join(root, name))
                    if p.endswith(exts) and p not in referenced:
                        if older_than_ms is not None and os.path.getmtime(p) * 1000 >= older_than_ms:
                            continue
                        os.remove(p)
                        removed.append(p)
        return removed

    # -- stats ------------------------------------------------------------

    def _added_pos_deletes(self, files: list[dict]) -> int:
        """Newly-deleted positions in ``files``: v3 merged-superset
        DVs carry the superseded DVs' prior positions in their
        record_count — subtract them so added-position-deletes counts
        only this commit's deletions (prior positions are disjoint
        from new matches: already-deleted rows never rescan)."""
        merged = sum((self._pending_superseded or {}).values())
        return sum(f["record_count"] for f in files) - merged

    def _total_pos_deletes(self) -> int:
        if not self.meta.snapshots:
            return 0
        last = self.meta.latest_snapshot()
        return int(last.summary.get("total-position-deletes", 0) or 0)


def _max_field_id(schema: IcebergSchema) -> int:
    next_id = _field_ids(max([c.field_id for c in schema.columns], default=0))
    for c in schema.columns:
        _spark_to_iceberg_type(c.spark_type, next_id)
    return next_id() - 1
