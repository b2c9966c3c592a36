"""Iceberg manifest layer: manifest-list + manifest entry reading.

Mirrors the reference's manifest walk (``src/common/iceberg.cpp:15-91``)
but decodes against the full writer schema, so partition values and
column bounds are retained — the reference drops them (its partial Avro
schemas omit stats; SURVEY.md §4 "partition pruning: NOT implemented").
We use them for file-level pruning, an intentional improvement.
"""

from __future__ import annotations

import bisect
import logging
import re
import threading
from collections import OrderedDict
from dataclasses import dataclass, field
from enum import IntEnum
from typing import Optional

from .avro import read_avro_file
from .table_metadata import IcebergSnapshot, TableMetadata, rebase_path

_log = logging.getLogger("duckdb_iceberg_spark")


class ManifestContent(IntEnum):
    DATA = 0
    DELETE = 1


class EntryStatus(IntEnum):
    EXISTING = 0
    ADDED = 1
    DELETED = 2


class FileContent(IntEnum):
    DATA = 0
    POSITION_DELETES = 1
    EQUALITY_DELETES = 2


@dataclass
class ManifestFile:
    manifest_path: str
    sequence_number: int
    content: ManifestContent
    partition_spec_id: int = 0
    manifest_length: int = 0
    added_rows_count: int = 0
    existing_rows_count: int = 0
    # v3 row lineage (spec field 520): start of the _row_id space
    # assigned to this data manifest; data-file entries with null
    # first_row_id inherit from it cumulatively on read
    first_row_id: Optional[int] = None


@dataclass
class ManifestEntry:
    status: EntryStatus
    content: FileContent
    file_path: str
    file_format: str
    record_count: int
    sequence_number: Optional[int] = None
    partition: dict = field(default_factory=dict)
    lower_bounds: dict = field(default_factory=dict)
    upper_bounds: dict = field(default_factory=dict)
    null_value_counts: dict = field(default_factory=dict)
    value_counts: dict = field(default_factory=dict)
    equality_ids: Optional[list[int]] = None
    file_size_in_bytes: int = 0
    raw_file_path: str = ""  # as stored in the manifest (pre-rebase)
    spec_id: int = 0  # partition spec of the manifest that listed this file
    # Iceberg v3 deletion vectors (spec fields 143-145): a content=1
    # entry whose file is a Puffin blob rather than a parquet delete
    # table. content_offset is the discriminator (None = classic
    # positional-delete parquet).
    referenced_data_file: Optional[str] = None
    content_offset: Optional[int] = None
    content_size: Optional[int] = None
    # Iceberg v3 row lineage (spec field 142): the _row_id of this
    # data file's first row; row N in the file has _row_id
    # first_row_id + N. None = lineage not tracked (v1/v2 files).
    first_row_id: Optional[int] = None


def read_manifest_list(path: str, format_version: int) -> list[ManifestFile]:
    _, records = read_avro_file(path)
    out = []
    for r in records:
        out.append(
            ManifestFile(
                manifest_path=r["manifest_path"],
                manifest_length=r.get("manifest_length") or 0,
                # v1 manifest lists lack content/sequence_number -> DATA/0
                sequence_number=r.get("sequence_number", 0) or 0,
                content=ManifestContent(r.get("content", 0) or 0),
                partition_spec_id=r.get("partition_spec_id", 0) or 0,
                added_rows_count=r.get("added_rows_count") or r.get("added_files_count") or 0,
                existing_rows_count=r.get("existing_rows_count") or 0,
                first_row_id=r.get("first_row_id"),
            )
        )
    return out


def inherit_from_manifest(record: dict, sequence_number: Optional[int], row_id_cursor: Optional[int]) -> Optional[int]:
    """Fill a raw manifest entry's inherited fields in place; return the
    advanced row-id cursor.

    A null ``sequence_number`` / ``file_sequence_number`` is the
    manifest's (the entry was added in the manifest's own commit). v3
    row lineage: a data file with null ``first_row_id`` is assigned the
    manifest's first_row_id plus the cumulative record_count of
    preceding null-first_row_id data files in the manifest (Iceberg spec
    "Row Lineage" / "First Row ID Inheritance"); ``row_id_cursor``
    carries that sum, starting at the manifest's first_row_id.
    Spec-conformant foreign writers leave the per-file field null and
    only stamp the manifest-list entry; explicit per-file ids (this
    repo's writer) never consume inherited space."""
    if sequence_number is not None:
        if record.get("sequence_number") is None:
            record["sequence_number"] = sequence_number
        if record.get("file_sequence_number") is None:
            record["file_sequence_number"] = sequence_number
    df = record["data_file"]
    if row_id_cursor is not None and df.get("first_row_id") is None and not df.get("content"):
        df["first_row_id"] = row_id_cursor
        row_id_cursor += df.get("record_count", 0) or 0
    return row_id_cursor


def read_manifest_entries(path: str, format_version: int, manifest: Optional[ManifestFile] = None) -> list[ManifestEntry]:
    _, records = read_avro_file(path)
    out = []
    mseq = manifest.sequence_number if manifest is not None else None
    lineage_cursor = manifest.first_row_id if manifest is not None else None
    for r in records:
        lineage_cursor = inherit_from_manifest(r, mseq, lineage_cursor)
        df = r["data_file"]
        # v1 entries have no per-file content field -> DATA; for v2 delete
        # manifests the data_file carries content 1 (pos) or 2 (eq).
        content = FileContent(df.get("content", 0) or 0)
        out.append(
            ManifestEntry(
                status=EntryStatus(r["status"]),
                content=content,
                file_path=df["file_path"],
                file_format=str(df.get("file_format", "PARQUET")),
                record_count=df.get("record_count", 0) or 0,
                sequence_number=r.get("sequence_number"),
                partition=df.get("partition") or {},
                lower_bounds=_kv(df.get("lower_bounds")),
                upper_bounds=_kv(df.get("upper_bounds")),
                null_value_counts=_kv(df.get("null_value_counts")),
                value_counts=_kv(df.get("value_counts")),
                equality_ids=df.get("equality_ids"),
                file_size_in_bytes=df.get("file_size_in_bytes", 0) or 0,
                spec_id=(manifest.partition_spec_id if manifest is not None else 0),
                referenced_data_file=df.get("referenced_data_file"),
                content_offset=df.get("content_offset"),
                content_size=df.get("content_size_in_bytes"),
                first_row_id=df.get("first_row_id"),
            )
        )
    return out


def _kv(v) -> dict:
    """Iceberg avro k/v lists: [{'key': k, 'value': v}, ...] -> dict."""
    if not v:
        return {}
    if isinstance(v, dict):
        return v
    return {e["key"]: e["value"] for e in v}


@dataclass
class IcebergTableScan:
    """Fully-resolved file listing for one snapshot (reference
    ``IcebergTable::Load``, iceberg.cpp:15-36)."""

    snapshot: IcebergSnapshot
    manifests: list[tuple[ManifestFile, list[ManifestEntry]]]

    @property
    def entries(self) -> list[ManifestEntry]:
        return [e for _, es in self.manifests for e in es]

    def data_files(self) -> list[ManifestEntry]:
        return [e for e in self.entries if e.content == FileContent.DATA and e.status != EntryStatus.DELETED]

    def positional_delete_files(self) -> list[ManifestEntry]:
        return [e for e in self.entries if e.content == FileContent.POSITION_DELETES and e.status != EntryStatus.DELETED]

    def equality_delete_files(self) -> list[ManifestEntry]:
        return [e for e in self.entries if e.content == FileContent.EQUALITY_DELETES and e.status != EntryStatus.DELETED]

    def data_cardinality(self) -> int:
        return sum(e.record_count for e in self.data_files())

    def delete_cardinality(self) -> int:
        return sum(e.record_count for e in self.positional_delete_files())


def stored_path(path: str) -> str:
    """A data file's path as a manifest or a delete row stores it, with a
    leading ``file:/+`` made ``/``: the form delete rows match in."""
    return re.sub(r"^file:/+", "/", path)


def _seq(e: ManifestEntry) -> int:
    return e.sequence_number or 0


class DeleteFileIndex:
    """Which delete files apply to which data file, decided here only, as
    Iceberg Java's ``DeleteFileIndex`` does after the spec's scan
    planning (https://iceberg.apache.org/spec/#scan-planning): a
    position-delete file or deletion vector (DV) applies to a data file
    of at most its sequence number, and only to its
    ``referenced_data_file`` (a DV must name one) or, else, to the
    stored paths within its ``file_path`` bounds; an equality-delete
    file applies to a data file of a strictly smaller sequence number.
    The spec's partition condition is not applied: this writer records
    its delete files with a null partition.

    Built from a snapshot's manifest entries, live ones only. A DV
    without ``content_size_in_bytes`` or ``referenced_data_file`` raises."""

    def __init__(self, entries):
        self._positional = []  # (entry, referenced data file, stored-path bounds or None)
        self._equality = []
        for e in entries:
            if e.status == EntryStatus.DELETED or e.content == FileContent.DATA:
                continue
            if e.content == FileContent.EQUALITY_DELETES:
                self._equality.append(e)
                continue
            if e.content_offset is not None and not (e.content_size and e.referenced_data_file):
                raise ValueError(
                    f"deletion vector entry for {e.referenced_data_file!r} ({e.file_path}) "
                    "has no content_size_in_bytes or referenced_data_file"
                )
            bounds = [b.get(2147483546) for b in (e.lower_bounds, e.upper_bounds)]  # of file_path
            bounds = None if None in bounds else [stored_path(v.decode()) for v in bounds]
            self._positional.append((e, e.referenced_data_file, bounds))

    @staticmethod
    def equality_applies(data_seq, delete_seq):
        """The sequence rule of equality deletes, on ints or Spark Columns."""
        return data_seq < delete_seq

    def for_file(self, data: ManifestEntry) -> tuple[list, list, list]:
        """(position-delete files, DVs, equality-delete files) that apply
        to ``data``, each in manifest order."""
        return self.for_files([data])

    def for_files(self, data_entries) -> tuple[list, list, list]:
        """The union of `for_file` over the list ``data_entries``, each
        delete file once, in manifest order. No work per (data file,
        delete file) pair: each delete file meets the smallest sequence
        number of the files it can name, found by a lookup of its
        referenced file, a bisection of the sorted stored paths, or else
        over all the files."""
        seqs = {e.file_path: _seq(e) for e in data_entries}
        if not seqs:
            return [], [], []
        bounded = any(b is not None for _, _, b in self._positional)
        ranked = sorted((stored_path(e.raw_file_path or e.file_path), _seq(e)) for e in data_entries) if bounded else []
        paths = [p for p, _ in ranked]
        low = min(seqs.values())

        def lowest(ref, bounds):
            if ref:
                return seqs.get(ref)
            if bounds is None:
                return low
            i, j = bisect.bisect_left(paths, bounds[0]), bisect.bisect_right(paths, bounds[1])
            return min((s for _, s in ranked[i:j]), default=None)

        found = [d for d, ref, bounds in self._positional if (s := lowest(ref, bounds)) is not None and s <= _seq(d)]
        return (
            [d for d in found if d.content_offset is None],
            [d for d in found if d.content_offset is not None],
            [d for d in self._equality if self.equality_applies(low, _seq(d))],
        )


# Bound of _METADATA_CACHE, in decoded entries (manifest-list records
# and manifest entries alike). tracemalloc measured the bytes a cold
# walk retains: 1.25 KB per entry on an 80-commit, 5-column table (160
# entries, 199 KB). Sized at 4.3 KB per entry, a margin for tables with
# more columns (more bounds per entry), 60,000 entries hold at most
# ~256 MiB.
_METADATA_CACHE_MAX_ENTRIES = 60_000


class _MetadataCache:
    """LRU of decoded metadata files, weighted by their entry count and
    bounded by ``_METADATA_CACHE_MAX_ENTRIES``. Values are shared between
    walks, so callers treat them as read-only."""

    def __init__(self):
        self._items = OrderedDict()  # key -> (entries, value)
        self.entries = 0
        self._lock = threading.Lock()

    def get(self, key):
        with self._lock:
            hit = self._items.get(key)
            if hit is None:
                return None
            self._items.move_to_end(key)
            return hit[1]

    def put(self, key, value, entries: int) -> None:
        entries = max(1, entries)
        with self._lock:
            old = self._items.pop(key, None)
            self.entries += entries - (old[0] if old else 0)
            self._items[key] = (entries, value)
            while self.entries > _METADATA_CACHE_MAX_ENTRIES and self._items:
                self.entries -= self._items.popitem(last=False)[1][0]

    def clear(self) -> None:
        """Forget every file: for callers that rewrite metadata in place."""
        with self._lock:
            self._items.clear()
            self.entries = 0


_METADATA_CACHE = _MetadataCache()


def load_table_scan(
    metadata: TableMetadata,
    snapshot: IcebergSnapshot,
    table_path: str,
    allow_moved_paths: bool = False,
) -> IcebergTableScan:
    """Walk snapshot → manifest list → manifests, rebasing moved paths.

    Every decoded file is kept in one LRU, ``_METADATA_CACHE``, keyed on
    its immutable identity, so a walk decodes only the files no earlier
    walk decoded: a repeated walk decodes nothing, and the first walk
    after a commit decodes the new manifest list and the manifests that
    commit wrote (the reference decodes every manifest on every scan,
    iceberg.cpp:15-91). A manifest list is keyed on (rebased path, table
    root, moved flag). A manifest is keyed on (rebased path,
    ``manifest_length``, and the list record's ``sequence_number``,
    ``first_row_id`` and ``partition_spec_id``, table root, moved flag):
    its entries carry the sequence numbers and row ids inherited from
    that record and paths rebased onto that root. Both kinds are
    immutable by the spec and uniquely named by writers, on every
    filesystem. Missing manifests are decoded in a thread pool when
    there are several (IO-bound reads; at thousands of manifests on
    object storage, sequential latency dominates planning), in manifest
    order either way. Each walk logs one DEBUG "scan planning" event
    with the manifests, files decoded, files served from the cache and
    entries."""
    root = (table_path, allow_moved_paths)
    ml_path = rebase_path(snapshot.manifest_list, table_path, allow_moved_paths)
    manifests = _METADATA_CACHE.get((ml_path, *root))
    decoded = 0
    if manifests is None:
        manifests = read_manifest_list(ml_path, metadata.format_version)
        _METADATA_CACHE.put((ml_path, *root), manifests, len(manifests))
        decoded = 1
    keys = [
        (
            rebase_path(mf.manifest_path, table_path, allow_moved_paths),
            mf.manifest_length,
            mf.sequence_number,
            mf.first_row_id,
            mf.partition_spec_id,
            *root,
        )
        for mf in manifests
    ]
    found = [_METADATA_CACHE.get(k) for k in keys]
    missing = [i for i, es in enumerate(found) if es is None]

    def _one(i):
        entries = read_manifest_entries(keys[i][0], metadata.format_version, manifests[i])
        for e in entries:
            e.raw_file_path = e.file_path
            e.file_path = rebase_path(e.file_path, table_path, allow_moved_paths)
            if e.referenced_data_file:
                e.referenced_data_file = rebase_path(
                    e.referenced_data_file, table_path, allow_moved_paths
                )
        return entries

    if len(missing) <= 1:
        loaded = [_one(i) for i in missing]
    else:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(16, len(missing))) as pool:
            loaded = list(pool.map(_one, missing))
    for i, entries in zip(missing, loaded):
        found[i] = entries
        _METADATA_CACHE.put(keys[i], entries, len(entries))
    decoded += len(missing)
    if _log.isEnabledFor(logging.DEBUG):
        event = dict(
            manifests=len(manifests), decoded=decoded,
            cached=1 + len(manifests) - decoded, entries=sum(len(es) for es in found),
        )
        _log.debug("scan planning: %s", event, extra=event)
    return IcebergTableScan(snapshot=snapshot, manifests=list(zip(manifests, found)))
