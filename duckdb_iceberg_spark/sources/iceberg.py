"""Iceberg table functions, Spark-first.

Public surface mirrors the reference extension's three table functions
(reference ``src/iceberg_functions.cpp:10-24``):

- :func:`iceberg_scan`       (iceberg_scan.cpp:217-337)
- :func:`iceberg_snapshots`  (iceberg_snapshots.cpp)
- :func:`iceberg_metadata`   (iceberg_metadata.cpp)

Architecture (SURVEY.md §3.1): all metadata work (path resolution,
snapshot selection, Avro manifest walk) happens once on the driver in
pure Python — the moral equivalent of the reference's bind-replace —
and the result is a *declarative DataFrame plan* that Catalyst
optimizes: multi-file parquet scan with explicit schema (predicate
pushdown + column pruning reach the scan), positional deletes applied
as a broadcast ANTI join keyed on (`_metadata.file_path`,
`_metadata.row_index`) — the exact Spark equivalents of DuckDB's
``filename``/``file_row_number`` virtual columns the reference uses
(iceberg_scan.cpp:177-182), compared as Spark reports them, as the
reference compares ``filename``. The small side is translated instead:
delete files name data files by the path the manifests store, and
`_DataFileUris` turns those into the URIs Spark reports, from URIs
recorded once per file.

Scale notes (100 TB design):
- Manifest metadata is KB-MB scale even for huge tables; driver-side
  parse is what every Iceberg runtime does. `load_table_scan` decodes
  each manifest list and manifest once per process (an LRU bounded by
  decoded entries), so a read after a commit decodes only what the
  commit wrote, and the misses of one walk decode in a thread pool.
- Delete files are a small fraction of data (cardinality known from
  manifest `record_count` sums — same numbers the reference injects
  as `explicit_cardinality`); we broadcast them for a shuffle-free
  anti join when under the broadcast cap, else fall back to a shuffled
  anti join automatically.
- No scanned data row runs a string function to meet its deletes: the
  probe key is `_metadata.file_path` untouched. Each data file's URI is
  recorded once per SparkContext beside its qualified path (3 py4j
  round trips the first time it is needed, none after). The delete
  side, the equality-delete sequence lookup and the row-lineage map are
  keyed by it on the driver. Position-delete rows name data files by
  stored path and are translated with one (stored prefix, URI prefix)
  pair plus a literal map of the files whose own names Spark
  percent-encodes, so plan size is O(such files): zero on an ordinary
  or a moved table.
- Only the delete files that apply to some scanned data file are read:
  `plans.manifests.DeleteFileIndex` is the one place that decides
  which apply, for this path, the arrow path and the changelog.
- One task per parquet file is NOT required: `_metadata.row_index` is
  split-safe (computed by the reader per file), unlike
  monotonically_increasing_id tricks.
- Scan planning makes no filesystem call for the files the manifests
  describe: every parquet relation (data, positional- and
  equality-delete files) is built by `_parquet_relation` from the
  manifests' paths and `file_size_in_bytes`, as Iceberg's own Spark
  reader plans — no per-file stat on the driver (a HEAD request each
  on object stores) and no Spark listing job, however many files.
- Metadata tables (snapshots, history, partitions, metadata, table
  statistics, ``mode="list_files"``) are Arrow-backed local relations
  built by `_local_df`: collecting, filtering or projecting them runs
  no Spark job, like the reference's in-process DataChunk listings.
"""

from __future__ import annotations

import datetime
import decimal
import functools
import itertools
import json
import logging
import math
import os
import struct
import threading
from collections import Counter, OrderedDict
from types import SimpleNamespace
from typing import Any, NamedTuple, Optional

from py4j.protocol import Py4JJavaError
from pyspark.errors import PySparkException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.bounds import _EPOCH_DATE, _EPOCH_TS, range_implied, range_overlaps
from ..plans.manifests import (
    DeleteFileIndex,
    EntryStatus,
    FileContent,
    ManifestContent,
    load_table_scan,
    stored_path,
)
from ..plans.table_metadata import (
    DEFAULT_TABLE_VERSION_FORMAT,
    IcebergSchema,
    TableMetadata,
    load_table_metadata,
)

__all__ = ["iceberg_scan", "iceberg_snapshots", "iceberg_metadata"]


def _load(
    path: str,
    *,
    version: Optional[str],
    version_name_format: str,
    metadata_compression_codec: str,
    unsafe_enable_version_guessing: bool,
) -> TableMetadata:
    return load_table_metadata(
        path,
        version=version,
        version_name_format=version_name_format,
        metadata_compression_codec=metadata_compression_codec,
        unsafe_enable_version_guessing=unsafe_enable_version_guessing,
    )


def _table_root(path: str) -> str:
    """Table root dir for moved-path rebasing; handles direct
    ``…/metadata/vN.metadata.json`` inputs."""
    if path.endswith(".json") or path.endswith(".json.gz"):
        parent = os.path.dirname(path)
        if os.path.basename(parent) == "metadata":
            return os.path.dirname(parent)
        return parent
    return path


def _select_snapshot(meta: TableMetadata, snapshot_id, timestamp):
    if snapshot_id is not None:
        return meta.snapshot_by_id(int(snapshot_id))
    if timestamp is not None:
        if isinstance(timestamp, datetime.datetime):
            ts_ms = int(timestamp.timestamp() * 1000)
        else:
            ts_ms = int(timestamp)
        return meta.snapshot_by_timestamp(ts_ms)
    return meta.latest_snapshot()


_FILE_SCHEME = r"^file:/+"


def _norm_path(col):
    """Normalize a file URI/path for exact-path comparison."""
    return F.regexp_replace(col, _FILE_SCHEME, "/")


def _decode_file_uri(col):
    """Spark's ``_metadata.file_path`` is a URI — path segments are
    percent-encoded (a dir literally named ``p_brand=Brand%2333``, as
    Java writers emit for partition value ``Brand#33``, is reported as
    ``...Brand%252333...``), while manifest/delete-file paths are raw
    filesystem paths. Only the writer decodes, on the deleted rows its
    position-delete files name; reads meet the data on the URI as
    reported (`_DataFileUris`). A literal ``+`` is valid raw in a URI
    path segment and must NOT become a space, so escape it before
    url_decode."""
    return F.url_decode(F.regexp_replace(col, r"\+", "%2B"))


class _DataFileUris(NamedTuple):
    """How a data file's stored path, as delete rows name it, becomes the
    URI Spark reports as its ``_metadata.file_path``, so the data side
    probes with ``_metadata.file_path`` untouched.

    A path ``n`` (`_norm_path`ed) names ``exceptions.get(n, prefix +
    n[len(stored):])`` if it starts with ``stored``, else no file.
    (``stored``, ``prefix``) is what most files' stored path and URI
    keep once their longest common suffix is cut: ``("", "file:")``
    locally, the old and the new root of a moved table, the raw and the
    encoded form of a root Spark percent-encodes. ``exceptions`` holds
    only the files whose own names Spark percent-encodes (a space,
    ``#``, ``%``), and maps the path the pair would turn into each of
    their URIs to ``""``, which no file reports."""

    stored: str
    prefix: str
    exceptions: dict

    @classmethod
    def of(cls, uris: dict) -> "_DataFileUris":
        """From stored path -> URI of every scanned data file."""
        norm = {stored_path(p): u for p, u in uris.items()}

        def pair(n, u):
            k = len(os.path.commonprefix([n[::-1], u[::-1]]))
            return n[: len(n) - k], u[: len(u) - k]

        counts = Counter(pair(n, u) for n, u in norm.items())
        stored, prefix = counts.most_common(1)[0][0] if counts else ("", "")
        exceptions = {
            n: u for n, u in norm.items() if not n.startswith(stored) or prefix + n[len(stored):] != u
        }
        for u in list(exceptions.values()):
            if u.startswith(prefix) and stored + u[len(prefix):] not in norm:
                exceptions.setdefault(stored + u[len(prefix):], "")
        return cls(stored, prefix, exceptions)

    def column(self, col):
        """The URI a raw path column names, as a Column."""
        n = _norm_path(col)
        rel = F.when(n.startswith(self.stored), F.substring(n, len(self.stored) + 1, 1 << 30)) if self.stored else n
        key = F.concat(F.lit(self.prefix), rel)
        if self.exceptions:
            ks, vs = zip(*self.exceptions.items())
            lookup = F.map_from_arrays(F.array(*map(F.lit, ks)), F.array(*map(F.lit, vs)))
            key = F.coalesce(F.element_at(lookup, n), key)
        return key


@functools.lru_cache(maxsize=None)
def _ddl_struct(ddl: str) -> T.StructType:
    """A DDL schema string parsed once per process (each parse is a
    py4j round trip; the result is a plain Python StructType)."""
    return T._parse_datatype_string(ddl)


def _local_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """The one builder of driver-side DataFrames in this package.

    ``rows`` are tuples in ``schema`` order; ``schema`` is a StructType
    or a DDL string. The rows become one Arrow table typed by
    ``to_arrow_schema(schema)``, whose IPC stream goes to the JVM as one
    bytes argument and becomes a ``LocalRelation`` — no RDD, no Python
    worker, no temp file and no session-conf read: 4 py4j round trips
    whatever the row count. Catalyst folds projections, filters and
    limits into it and ``collect()`` runs no Spark job, as the
    reference's in-process DataChunk listings do
    (iceberg_snapshots.cpp:100-124). ``TimestampType`` maps to Arrow
    ``timestamp[us, UTC]``, so a naive datetime is taken as a UTC
    instant whatever the process's ``TZ``."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = _ddl_struct(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = zip(*rows) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, arrow_schema) as writer:
        writer.write_table(table)
    jvm = _relation_jvm(spark)
    stream = jvm.newChannel(jvm.ByteArrayInputStream(sink.getvalue().to_pybytes()))
    jdf = jvm.toDataFrame(jvm.arrow.getBatchesFromStream(stream), schema.json(), spark._jsparkSession)
    df = DataFrame(jdf, spark)
    df._schema = schema
    return df


_DELETE_SCHEMA = T.StructType(
    [
        T.StructField("file_path", T.StringType()),
        T.StructField("pos", T.LongType()),
    ]
)

# Memo of DataFrames the scan rebuilds often: iceberg_scan's base
# relations (see the inline comment there) and `_where_predicate`'s
# empty relations. Keyed by the application id so a restarted
# session never serves plans bound to a dead JVM.
_READ_CACHE: dict = {}
_READ_CACHE_MAX = 128


def _memo(key, build):
    """``_READ_CACHE[key]``, built by ``build()`` on a miss (LRU)."""
    df = _READ_CACHE.pop(key, None)
    if df is None:
        df = build()
    _READ_CACHE[key] = df  # (re-)insert: LRU recency
    while len(_READ_CACHE) > _READ_CACHE_MAX:
        _READ_CACHE.pop(next(iter(_READ_CACHE)))
    return df


# Files _parquet_relation has resolved (and, when sized, put into the
# session's FileStatusCache), at most this many per SparkContext.
_FILES_MAX = 1 << 16

_log = logging.getLogger("duckdb_iceberg_spark")


def _relation_jvm(spark: SparkSession) -> SimpleNamespace:
    """Per-SparkContext state of _parquet_relation, _local_df and
    _where_predicate: the application id, the JVM handles they call
    (each package hop of ``spark._jvm.a.b.C`` is a py4j round trip), the
    FileStatusCache client, and the LRU of manifest path ->
    (qualified path string, file URI or None until asked for) of the
    files already resolved, sized ones fed to that client. Lives on the
    SparkContext instance, like session.py's JVM function cache, so a
    restarted context starts empty and never reuses references from a
    dead gateway."""
    sc = spark.sparkContext
    state = sc.__dict__.get("_graft_parquet_relation")
    if state is None:
        jvm = spark._jvm
        ds = jvm.org.apache.spark.sql.execution.datasources
        fs = jvm.org.apache.hadoop.fs
        opt = jvm.org.apache.spark.sql.catalyst.optimizer
        state = sc.__dict__.setdefault(
            "_graft_parquet_relation",
            SimpleNamespace(
                app=sc.applicationId,
                cache=ds.FileStatusCache.getOrCreate(spark._jsparkSession),
                files=OrderedDict(),
                lock=threading.Lock(),
                Path=fs.Path,
                FileStatus=fs.FileStatus,
                SparkPath=jvm.org.apache.spark.paths.SparkPath,
                InMemoryFileIndex=ds.InMemoryFileIndex,
                HadoopFsRelation=ds.HadoopFsRelation,
                parquet=ds.parquet.ParquetFileFormat(),
                CaseInsensitiveMap=getattr(
                    getattr(jvm.org.apache.spark.sql.catalyst.util, "CaseInsensitiveMap$"),
                    "MODULE$",
                ),
                option=jvm.scala.Option.apply,
                none=jvm.scala.Option.empty(),
                toScalaMap=jvm.PythonUtils.toScalaMap,
                # roots cross as one NUL-joined string (no path holds a
                # NUL) and become a Seq[Path] JVM-side
                nul=jvm.java.util.regex.Pattern.compile("\0"),
                stringToPath=jvm.org.apache.hadoop.util.StringUtils.stringToPath,
                wrapArray=jvm.scala.collection.immutable.ArraySeq.unsafeWrapArray,
                ByteArrayInputStream=jvm.java.io.ByteArrayInputStream,
                newChannel=jvm.java.nio.channels.Channels.newChannel,
                arrow=getattr(getattr(jvm.org.apache.spark.sql.execution.arrow, "ArrowConverters$"), "MODULE$"),
                toDataFrame=jvm.org.apache.spark.sql.api.python.PythonSQLUtils.toDataFrame,
                constant_folding=getattr(getattr(opt, "ConstantFolding$"), "MODULE$"),
                simplify_casts=getattr(getattr(opt, "SimplifyCasts$"), "MODULE$"),
            ),
        )
    return state


def _resolve_files(spark: SparkSession, entries: list) -> dict:
    """Manifest path -> (qualified path string, URI or None) for each
    entry's file, from the per-SparkContext LRU. A file seen for the
    first time costs a few py4j round trips to qualify and, when its
    manifest size is known, is put into the session's FileStatusCache;
    a file already in the LRU costs none."""
    jvm = _relation_jvm(spark)
    sizes = {e.file_path: e.file_size_in_bytes for e in entries}
    with jvm.lock:
        known = {p: jvm.files[p] for p in sizes if p in jvm.files}
        for p in known:
            jvm.files.move_to_end(p)
    new = [p for p in sizes if p not in known]
    if new:
        hconf = spark._jsparkSession.sessionState().newHadoopConf()
        for p in new:
            jp = jvm.Path(p)
            jp = jp.getFileSystem(hconf).makeQualified(jp)
            known[p] = (jp.toString(), None)
            if sizes[p]:
                leaf = spark.sparkContext._gateway.new_array(jvm.FileStatus, 1)
                leaf[0] = jvm.FileStatus(sizes[p], False, 1, 0, 0, jp)
                jvm.cache.putLeafFiles(jp, leaf)
        with jvm.lock:
            jvm.files.update((p, known[p]) for p in new)
            while len(jvm.files) > _FILES_MAX:
                jvm.files.popitem(last=False)
    return known


def _file_uris(spark: SparkSession, entries: list) -> dict:
    """Manifest path -> the URI Spark reports as ``_metadata.file_path``
    for each entry's file: the qualified path re-parsed from its string
    form, as Spark's own ``SparkPath`` does (``qualified.toUri()`` would
    give ``file:///`` where Spark reports ``file:/``). Computed the first
    time a file's URI is asked for (2 py4j round trips) and kept in the
    LRU beside its qualified path."""
    jvm = _relation_jvm(spark)
    uris = {}
    for p, (qualified, uri) in _resolve_files(spark, entries).items():
        if uri is None:
            uri = jvm.SparkPath.fromPathString(qualified).urlEncoded()
            with jvm.lock:
                if p in jvm.files:
                    jvm.files[p] = (qualified, uri)
        uris[p] = uri
    return uris


def _parquet_relation(
    spark: SparkSession,
    entries: list,
    schema: Optional[T.StructType] = None,
    options: Optional[dict] = None,
) -> DataFrame:
    """The parquet DataFrame over manifest-listed files, planned from
    the manifests' ``file_size_in_bytes`` without touching storage.

    Builds what ``spark.read.schema(schema).options(**options)
    .parquet(*paths)`` builds — DataSource.resolveRelation's
    InMemoryFileIndex -> HadoopFsRelation -> LogicalRelation chain, with
    the same qualified root paths, partition schema (from the index;
    empty for file roots), nullable data schema and options — except
    that each file's FileStatus (qualified path, manifest size; no
    modification time) is put into the session's FileStatusCache first,
    once per file (`_resolve_files`). The index then finds every root in
    the cache, so the build makes no filesystem call and runs no Spark
    listing job (past ``parallelPartitionDiscovery.threshold`` paths the
    reader lists with one task per file). Iceberg's own Spark reader
    plans from the same manifest sizes. Files with a missing or 0 size
    are not fed: the index lists them itself, as it does any path the
    cache lacks (a no-op cache, an evicted entry). A file deleted from
    storage is therefore reported when the query runs, not here.

    Once its files are resolved, a build makes a fixed number of py4j
    round trips (about 15), however many files: the qualified roots
    cross as one NUL-joined string, and ``new Path`` of each qualified
    string JVM-side gives back the Path `_resolve_files` qualified.

    ``schema=None`` infers the data schema from the footers, as the
    reader does without a schema."""
    js = spark._jsparkSession
    jvm = _relation_jvm(spark)
    roots = _resolve_files(spark, entries)
    paths = [e.file_path for e in entries]
    opts = dict(options or {})
    if len(paths) == 1:
        opts["path"] = paths[0]  # the reader's single-path form
    jopts = jvm.CaseInsensitiveMap.apply(jvm.toScalaMap(opts))
    jschema = None if schema is None else js.parseDataType(schema.json())
    jroots = jvm.stringToPath(jvm.nul.split("\0".join(roots[p][0] for p in paths)))
    index = jvm.InMemoryFileIndex(
        js, jvm.wrapArray(jroots), jopts, jvm.option(jschema), jvm.cache, jvm.none, jvm.none,
    )
    if jschema is None:
        jschema = jvm.parquet.inferSchema(js, jopts, index.allFiles()).get()
    relation = jvm.HadoopFsRelation(
        index, index.partitionSchema(), jschema.asNullable(), jvm.none, jvm.parquet, jopts, js
    )
    sizes = {e.file_path: e.file_size_in_bytes for e in entries}
    unsized = sum(1 for s in sizes.values() if not s)
    _log.debug(
        "parquet relation: %d files, %d from manifest sizes, %d left to listing",
        len(sizes), len(sizes) - unsized, unsized,
        extra={"files": len(sizes), "from_manifest": len(sizes) - unsized, "listed": unsized},
    )
    return DataFrame(js.baseRelationToDataFrame(relation), spark)


def _sniff_footer(path: str) -> tuple[bool, frozenset]:
    """(has_field_ids, column_names) of one parquet footer."""
    import pyarrow.parquet as pq

    sch = pq.read_schema(path)
    has_ids = any((f.metadata or {}).get(b"PARQUET:field_id") is not None for f in sch)
    return has_ids, frozenset(sch.names)


def _split_by_field_ids(entries: list) -> tuple[list, list]:
    """Partition entries into (with field ids, without) — concurrent
    footer reads, same pattern as the manifest decode fan-out."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=min(16, len(entries))) as ex:
        flags = list(ex.map(lambda e: _sniff_footer(e.file_path)[0], entries))
    with_ids = [e for e, f in zip(entries, flags) if f]
    without = [e for e, f in zip(entries, flags) if not f]
    return with_ids, without


def _name_mapped_reads(spark, schema: "IcebergSchema", mapping_json: str, entries: list):
    """Reads for id-less files under schema.name-mapping.default.

    Files are grouped by which mapped name each field resolves to in
    their footer (files imported before a rename may carry an older
    name), one read per distinct resolution; unmapped fields read as
    NULL. Yields (reader_df, select_columns aliased to current names).
    """
    import json as _json

    if not entries:
        return
    mp = {e["field-id"]: e.get("names", []) for e in _json.loads(mapping_json)}
    groups: dict = {}
    for e in entries:
        _, names_in_file = _sniff_footer(e.file_path)
        sig = tuple(
            next((n for n in (mp.get(c.field_id) or [c.name]) if n in names_in_file), None)
            for c in schema.columns
        )
        groups.setdefault(sig, []).append(e)
    for sig, fl in groups.items():
        fields = [
            T.StructField(n, c.spark_type, True)
            for n, c in zip(sig, schema.columns)
            if n is not None
        ]
        d = _parquet_relation(spark, fl, T.StructType(fields))
        cols = [
            F.col(n).alias(c.name) if n is not None else F.lit(None).cast(c.spark_type).alias(c.name)
            for n, c in zip(sig, schema.columns)
        ]
        yield d, cols


def iceberg_scan(
    spark: SparkSession,
    path: str,
    snapshot_id: Optional[int] = None,
    timestamp=None,
    *,
    version: Optional[str] = None,
    version_name_format: str = DEFAULT_TABLE_VERSION_FORMAT,
    metadata_compression_codec: str = "none",
    allow_moved_paths: bool = False,
    mode: str = "default",
    skip_schema_inference: bool = False,
    unsafe_enable_version_guessing: bool = False,
    partition_filter=None,
    where=None,
    ref: Optional[str] = None,
    time_as_string: bool = False,
    io: str = "spark",
    row_lineage: bool = False,
    _keep_position_columns: bool = False,
) -> DataFrame:
    """Read an Iceberg table at a snapshot, applying delete files.

    Equivalent of the reference's ``iceberg_scan(path[, snapshot_id |
    timestamp])`` with the same named parameters
    (iceberg_scan.cpp:301-337). Returns a DataFrame Catalyst plans
    normally (pushdown/pruning reach the parquet scan).

    ``partition_filter`` prunes data files from manifest partition
    values BEFORE the DataFrame is constructed — at 100 TB this is the
    difference between scanning a day and scanning a decade. Accepts
    a dict of ``{source_column: literal}`` (the matching transform is
    applied to the literal — hidden partitioning) or a callable
    ``partition_values_dict -> bool``. File pruning the reference
    never does (its partial Avro schemas drop partition data,
    reference iceberg_types.hpp:122-155; SURVEY.md §4).

    ``where`` is the one-stop predicate API: a SQL boolean expression
    string or a Column, applied as an exact row filter unless the
    manifest bounds of every file left prove it. Files that cannot hold
    a matching row are skipped first, from the condition as Catalyst
    resolves it (`_where_predicate`): ``=``, ``<``, ``<=``, ``>``,
    ``>=``, ``BETWEEN`` and ``IN`` of a column and literals prune on
    column bounds, ``=`` and ``IN`` also on partition values, ``IS
    NULL`` on null counts, and ``AND`` and ``OR`` combine them. Any
    other term filters correctly, it just prunes less. A column the
    table lacks raises ``AnalysisException``, in every mode. One DEBUG
    ``where pruning`` event on the ``duckdb_iceberg_spark`` logger
    reports the condition, its translated leaves, the data files
    before and after pruning, and whether the row filter was dropped.

    ``row_lineage`` (v3 tables) appends the two Iceberg row-lineage
    virtual columns: ``_row_id`` (the data file's ``first_row_id``,
    spec field 142, plus the row's position — inherited executor-side
    from a broadcast per-file map, no shuffle) and
    ``_last_updated_sequence_number`` (the file's data sequence
    number). A data file with a null per-file ``first_row_id``
    inherits it from its manifest's ``first_row_id`` (spec field 520)
    plus the cumulative record counts of preceding null-id data files
    in that manifest — the convention spec-conformant foreign v3
    writers use (plans/manifests.read_manifest_entries). Only when
    neither level carries lineage (v1/v2 history) do rows yield NULL
    ids. Known divergence: this writer's MoR
    UPDATE gives rewritten rows FRESH ids (delete+insert lineage)
    instead of carrying the old ``_row_id`` forward.

    ``time_as_string`` renders Iceberg ``time`` columns (physically
    micros-since-midnight LONGs — Spark has no TIME type) as
    ``HH:MM:SS[.ffffff]`` strings with trailing fractional zeros
    trimmed, matching DuckDB's TIME-to-VARCHAR output (reference
    src/common/schema.cpp:104-106 maps time to a real DuckDB TIME) so
    cross-engine diffs line up. Default off: the LONG form stays
    sortable/arithmetic-friendly.

    ``io`` picks the data-file reader: ``"spark"`` (default) or
    ``"arrow"`` (sources/arrow_scan.py). Any other value raises
    ``ValueError`` before any metadata is read, whatever the mode.
    """
    if io not in ("spark", "arrow"):
        raise ValueError(f"io must be 'spark' or 'arrow', got {io!r}")
    meta = _load(
        path,
        version=version,
        version_name_format=version_name_format,
        metadata_compression_codec=metadata_compression_codec,
        unsafe_enable_version_guessing=unsafe_enable_version_guessing,
    )
    if ref is not None:
        refs = meta.raw.get("refs", {})
        if ref not in refs:
            raise ValueError(f"Ref {ref} does not exist")
        snapshot_id = refs[ref]["snapshot-id"]
    snap = _select_snapshot(meta, snapshot_id, timestamp)
    scan = load_table_scan(meta, snap, _table_root(path), allow_moved_paths)
    data_entries = scan.data_files()
    schema = meta.schema_for_snapshot(snap)
    where_proven = False
    if where is not None:
        cond, pred = _where_predicate(spark, schema, where, time_as_string)
        n_before = len(data_entries)
        data_entries = _prune_by_stats(meta, data_entries, pred)
        # After pruning, the bounds of every SURVIVING file often prove
        # the predicate outright (e.g. a partition-aligned date range);
        # then the residual per-row filter is pure overhead on exactly
        # the scans pruning was built for. Deletes re-expose rows only
        # WITHIN surviving files, so the proof is delete-safe.
        where_proven = not _keep_position_columns and _residual_implied(data_entries, pred)
        if _log.isEnabledFor(logging.DEBUG):
            event = dict(
                condition=cond.sql(), leaves=_leaves(pred), files_before=n_before,
                files_after=len(data_entries), residual_proven=where_proven,
            )
            _log.debug("where pruning: %s", event, extra=event)
    if partition_filter is not None:
        data_entries = _prune_by_partition(meta, data_entries, partition_filter)
    # Iceberg manifests carry a per-file format; the reference assumes
    # PARQUET silently and would mis-read a foreign ORC/Avro table
    # (file_format parsed then ignored, src/common/iceberg.cpp). Here:
    # PARQUET native, ORC via spark.read.orc (no row positions — Spark
    # exposes _metadata.row_index only for parquet), AVRO via the
    # repo's pure-Python codec decoded executor-side (positions
    # synthesized from record order, so MoR deletes work), anything
    # else fails diagnosably instead of mis-reading.
    def _fmt(e):
        return (e.file_format or "PARQUET").upper()

    unsupported = sorted({_fmt(e) for e in data_entries} - {"PARQUET", "ORC", "AVRO"})
    if unsupported:
        raise ValueError(
            f"Iceberg table contains data files in unsupported format(s) "
            f"{unsupported}; this engine reads PARQUET, ORC and AVRO data files"
        )
    orc_data = [e.file_path for e in data_entries if _fmt(e) == "ORC"]
    avro_data = [e.file_path for e in data_entries if _fmt(e) == "AVRO"]
    parquet_entries = [e for e in data_entries if _fmt(e) == "PARQUET"]

    if mode == "list_files":
        # every live delete file of the snapshot, as the reference lists
        # them; v3 deletion vectors (content_offset set) share one Puffin
        pos_entries = scan.positional_delete_files()
        dv_files = list(dict.fromkeys(e.file_path for e in pos_entries if e.content_offset is not None))
        rows = [(e.file_path, "data") for e in data_entries] + [
            (f, "delete")
            for f in [e.file_path for e in pos_entries if e.content_offset is None]
            + dv_files
            + [e.file_path for e in scan.equality_delete_files()]
        ]
        return _local_df(spark, rows, "file string, type string")

    if not data_entries:
        st = T.StructType([]) if skip_schema_inference else schema.to_struct_type()
        if _keep_position_columns:
            st = st.add("__file", T.StringType()).add("__pos", T.LongType())
        return _local_df(spark, [], st)

    deletes = DeleteFileIndex(scan.entries)
    if io == "arrow":
        if orc_data or avro_data:
            raise ValueError(
                "io='arrow' supports only PARQUET data files; this table has "
                f"{len(orc_data)} ORC and {len(avro_data)} AVRO data file(s) — "
                "use the default io='spark' path"
            )
        # pyarrow-native executor reads (object-store tables without a
        # JVM connector) — see sources/arrow_scan.py for semantics
        if skip_schema_inference or _keep_position_columns:
            raise ValueError(
                "io='arrow' requires schema inference and does not expose position columns"
            )
        if row_lineage:
            raise ValueError("row_lineage requires the default io='spark' path")
        from .arrow_scan import arrow_scan_df

        nm = meta.properties.get("schema.name-mapping.default")
        mapping = (
            {e["field-id"]: e.get("names", []) for e in json.loads(nm)} if nm else None
        )
        df = arrow_scan_df(spark, schema, data_entries, deletes, mapping)
        return _finish_rows(df, schema, time_as_string, None if where_proven else where)

    # Field-id based column resolution (the reference pushes a
    # field_id->column map into the parquet reader, iceberg_scan.cpp:103-128;
    # Spark's native equivalent is parquet.field.id matching). get_spark
    # sets it session-wide; only set here if the caller built a bare
    # session without it (checked, not blind-set: mutating conf per
    # scan() call is a global side effect on concurrent queries).
    if spark.conf.get("spark.sql.parquet.fieldId.read.enabled", "false") != "true":
        spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    pos_delete_entries, dv_entries, eq_deletes = deletes.for_files(data_entries)
    want_pos = bool(
        pos_delete_entries or dv_entries or eq_deletes or _keep_position_columns or row_lineage
    )
    pos_cols = [
        F.col("_metadata.file_path").alias("__file"),
        F.col("_metadata.row_index").alias("__pos"),
    ]
    name_mapping = meta.properties.get("schema.name-mapping.default")
    if not parquet_entries:
        df = None  # ORC/AVRO-only table: parts assembled below
    elif name_mapping and not skip_schema_inference:
        # Some files were imported without parquet field ids
        # (add_files over foreign parquet): under field-id resolution
        # they would read as all-NULL. Apply the Iceberg
        # schema.name-mapping.default (spec §Column-Projection): split
        # the file list by footer-has-ids (one concurrent driver-side
        # footer sniff — only for tables carrying the property) and
        # read id-less files by mapped NAME, aliased back to the
        # current schema.
        with_ids, without_ids = _split_by_field_ids(parquet_entries)
        parts = []
        if with_ids:
            d = _parquet_relation(spark, with_ids, schema.to_struct_type())
            parts.append(d.select("*", *pos_cols) if want_pos else d)
        for d, cols in _name_mapped_reads(spark, schema, name_mapping, without_ids):
            parts.append(d.select(*cols, *pos_cols) if want_pos else d.select(*cols))
        df = parts[0]
        for p in parts[1:]:
            df = df.unionByName(p)
    else:
        if skip_schema_inference:
            # Deliberately NOT the fast path: mergeSchema=true pays a
            # footer merge across every file. This branch exists only
            # for parity with the reference's skip_schema_inference
            # quirk (schema from the files, not the metadata); the
            # default branch pins the metadata schema so no footer
            # merging ever happens.
            df = _parquet_relation(spark, parquet_entries, options={"mergeSchema": "true"})
        else:
            # Memoize the base relation per (session, file set, schema):
            # Iceberg data files are immutable, so the list + pinned
            # schema fully identify the relation, and repeated scans of
            # the same snapshot skip the relation build (about 15 py4j
            # round trips plus the index's JVM work, and a few more per
            # file never resolved before).
            ck = (
                _relation_jvm(spark).app,
                schema.to_struct_type().json(),
                tuple(e.file_path for e in parquet_entries),
            )
            df = _memo(ck, lambda: _parquet_relation(spark, parquet_entries, schema.to_struct_type()))
        if want_pos:
            df = df.select("*", *pos_cols)

    if orc_data:
        if want_pos:
            raise ValueError(
                f"Iceberg table has {len(orc_data)} ORC data file(s) and this scan "
                "needs row positions (positional deletes / deletion vectors / "
                "row_lineage): Spark exposes _metadata.row_index only for parquet. "
                "Compact the table to parquet (rewrite_data_files) first."
            )
        if skip_schema_inference:
            raise ValueError("skip_schema_inference is parquet-only; table has ORC data files")
        part = spark.read.schema(schema.to_struct_type()).orc(*orc_data)
        df = part if df is None else df.unionByName(part)
    # With row positions, every data row carries its file's URI as
    # Spark reports it (``__file``, untouched), and the delete side,
    # sequence numbers and lineage are keyed by that URI on the driver:
    # no data row runs a string function to meet them. The reference
    # compares DuckDB's ``filename`` as is, too (iceberg_scan.cpp:177-182).
    uris = _file_uris(spark, [e for e in data_entries if _fmt(e) != "ORC"]) if want_pos else None
    if avro_data:
        if skip_schema_inference:
            raise ValueError("skip_schema_inference is parquet-only; table has AVRO data files")
        part = _avro_data_df(spark, schema, avro_data, uris)
        df = part if df is None else df.unionByName(part)

    if pos_delete_entries or dv_entries:
        # delete rows name data files by stored path, in place or moved
        keys = _DataFileUris.of({e.raw_file_path or e.file_path: uris[e.file_path] for e in data_entries})
        parts = []
        if pos_delete_entries:
            # memoized like the data relation: an append leaves the
            # delete files, and so this relation, unchanged
            ck = (_relation_jvm(spark).app, "position deletes", tuple(e.file_path for e in pos_delete_entries))
            d = _memo(ck, lambda: _parquet_relation(spark, pos_delete_entries, _DELETE_SCHEMA))
            parts.append(d.select(keys.column(d["file_path"]).alias("file_path"), "pos"))
        if dv_entries:
            # v3 deletion vectors decode executor-side into the SAME
            # (file_path, pos) shape, so both delete kinds share one
            # anti-join
            parts.append(_dv_deletes_df(spark, dv_entries, uris.get))
        dels = parts[0]
        for p in parts[1:]:
            dels = dels.unionByName(p)
        # Deletes are small relative to data (manifest record_count sums
        # prove it — same stats the reference injects as cardinality);
        # broadcast -> shuffle-free anti join.
        deleted_rows = sum(e.record_count for e in pos_delete_entries + dv_entries)
        broadcast = deleted_rows < 50_000_000
        if broadcast:
            dels = F.broadcast(dels)
        df = df.join(dels, (df["__file"] == dels["file_path"]) & (df["__pos"] == dels["pos"]), "left_anti")
        n_exceptions = len(keys.exceptions)
        _log.debug(
            "delete application: %d data files, %d position-delete files, %d deletion "
            "vectors, %d deleted rows, %d URI exceptions, %s",
            len(data_entries), len(pos_delete_entries), len(dv_entries), deleted_rows,
            n_exceptions, "broadcast" if broadcast else "shuffled",
            extra={
                "data_files": len(data_entries),
                "position_delete_files": len(pos_delete_entries),
                "deletion_vectors": len(dv_entries),
                "deleted_rows": deleted_rows,
                "uri_exceptions": n_exceptions,
                "broadcast": broadcast,
            },
        )

    if eq_deletes:
        df = _apply_equality_deletes(spark, df, data_entries, eq_deletes, schema, uris)

    if row_lineage:
        # inherit _row_id / _last_updated_sequence_number from a
        # broadcast (file -> first_row_id, seq) map: O(#files) driver
        # rows, zero shuffle — matches how every v3 reader assigns
        # lineage at scan time
        lrows = [(uris[e.file_path], e.first_row_id, int(e.sequence_number or 0)) for e in data_entries]
        ldf = _local_df(spark, lrows, "lfile string, lfirst long, lseq long")
        df = (
            df.join(F.broadcast(ldf), df["__file"] == ldf["lfile"], "left")
            .withColumn("_row_id", F.col("lfirst") + F.col("__pos"))
            .withColumn("_last_updated_sequence_number", F.col("lseq"))
            .drop("lfile", "lfirst", "lseq")
        )

    if want_pos and not _keep_position_columns:
        df = df.drop("__file", "__pos")

    return _finish_rows(
        df, None if skip_schema_inference else schema, time_as_string, None if where_proven else where
    )


def _finish_rows(df: DataFrame, schema, time_as_string: bool, where) -> DataFrame:
    """The last steps of every read path. Unless ``schema`` is None (the
    files' own schema is read): initial-default for columns added after
    some files were written (Iceberg v2 initial-default; reference
    passes default_value into the parquet reader map,
    iceberg_scan.cpp:103-128; files lacking the field yield NULL under
    field-id resolution -> coalesce), and ``time_as_string``. Then the
    ``where`` row filter, if any."""
    for c in schema.columns if schema is not None else []:
        if c.initial_default is not None:
            df = df.withColumn(c.name, F.coalesce(F.col(c.name), F.lit(c.initial_default).cast(c.spark_type)))
    if time_as_string and schema is not None:
        df = _render_time_strings(df, schema)
    return df if where is None else df.filter(where)


def _render_time_strings(df: DataFrame, schema) -> DataFrame:
    """Render Iceberg ``time`` columns (micros-since-midnight LONGs)
    as ``HH:MM:SS[.ffffff]`` strings, DuckDB TIME-to-VARCHAR style
    (see iceberg_scan's ``time_as_string`` doc)."""
    for c in schema.columns:
        if c.iceberg_type == "time" and c.name in df.columns:
            v = F.col(c.name)
            base = F.format_string(
                "%02d:%02d:%02d",
                F.floor(v / F.lit(3_600_000_000)),
                F.floor((v % F.lit(3_600_000_000)) / F.lit(60_000_000)),
                F.floor((v % F.lit(60_000_000)) / F.lit(1_000_000)),
            )
            us = v % F.lit(1_000_000)
            frac = F.when(us == 0, F.lit("")).otherwise(
                F.concat(F.lit("."), F.regexp_replace(F.format_string("%06d", us), "0+$", ""))
            )
            df = df.withColumn(
                c.name, F.when(v.isNull(), F.lit(None)).otherwise(F.concat(base, frac))
            )
    return df


def _partition_check(meta: TableMetadata):
    """``check(e, fid, values, dt)``: False iff entry ``e``'s partition
    values prove no row of ``e`` has column ``fid`` (Spark type ``dt``)
    equal to one of ``values``; None for a never-partitioned table.
    Each entry is read with its OWN spec (``spec_id``): after partition
    evolution one field name can carry two transforms (bucket(4) ->
    bucket(8)). An entry of an unknown spec, or of one lacking the
    field, may match (Iceberg's mixed-spec scan rule); a null partition
    value equals no literal."""
    from ..plans.transforms import PartitionField

    specs = {
        int(s.get("spec-id", 0)): [
            (f["source-id"], PartitionField.from_json(f, str(f["source-id"]))) for f in s.get("fields", [])
        ]
        for s in meta.partition_specs
    }
    if not any(specs.values()):
        return None

    @functools.lru_cache(maxsize=None)
    def targets(spec_id, fid, values, dt):
        out = []
        for sid, pf in specs[spec_id]:
            if sid != fid or (pf.transform == "identity" and isinstance(dt, (T.TimestampType, T.TimestampNTZType))):
                continue  # identity-timestamp partition values aren't canonical: skip pruning
            try:
                out.append((pf.name, frozenset(pf.apply(v) for v in values)))
            except ValueError:
                pass  # the transform takes no such literal: keep the files
        return out

    def check(e, fid, values, dt) -> bool:
        if e.spec_id not in specs:
            return True
        return all(k not in e.partition or e.partition[k] in t for k, t in targets(e.spec_id, fid, values, dt))

    return check


def _prune_by_partition(meta: TableMetadata, entries, flt):
    """``partition_filter``: keep the entries whose partition values
    satisfy ``flt``, a dict of ``{source_column: literal}`` (the
    column's transform is applied to the literal; a list, tuple or set
    of literals matches any of them) or a callable over the entry's
    partition-values dict."""
    check = _partition_check(meta)
    if check is None:
        return entries  # never partitioned: nothing to prune
    if callable(flt):
        return [e for e in entries if flt(e.partition)]
    ids = {f["source-id"] for s in meta.partition_specs for f in s.get("fields", [])}
    sources = {c.name: c for c in meta.schemas[meta.current_schema_id].columns if c.field_id in ids}
    conds = []
    for col, lit in flt.items():
        if col not in sources:
            raise ValueError(f"partition_filter column {col!r} is not a partition source; sources: {sorted(sources)}")
        c = sources[col]
        vals = tuple(lit) if isinstance(lit, (list, tuple, set, frozenset)) else (lit,)
        if isinstance(c.spark_type, T.DateType):
            vals = tuple(datetime.date.fromisoformat(v) if isinstance(v, str) else v for v in vals)
        conds.append((c.field_id, vals, c.spark_type))
    return [e for e in entries if all(check(e, *cond) for cond in conds)]


# The where= predicate over manifest stats (`_where_predicate`). A
# None node is a term nothing is known of: it keeps every file.
class _Range(NamedTuple):
    """Column ``fid`` (Spark type ``dt``) lies in [lo, hi]: None is an
    open end, a strict flag an excluded one."""

    fid: int
    dt: T.DataType
    lo: Any = None
    hi: Any = None
    lo_strict: bool = False
    hi_strict: bool = False


class _IsNull(NamedTuple):
    fid: int


class _Bool(NamedTuple):
    op: str  # "and" or "or"
    kids: tuple


_CMP_OPS = {"EqualTo": "=", "LessThan": "<", "LessThanOrEqual": "<=", "GreaterThan": ">", "GreaterThanOrEqual": ">="}
_MIRROR = {"=": "=", "<": ">", "<=": ">=", ">": "<", ">=": "<="}
_FLOATS = (T.FloatType, T.DoubleType)


def _settle(p):
    """``p``, or None for a float range with no upper end: Spark orders
    NaN above every number and Iceberg bounds leave NaN out, so such a
    range could drop a file of NaNs."""
    return None if isinstance(p, _Range) and p.hi is None and isinstance(p.dt, _FLOATS) else p


def _intersect(a: _Range, b: _Range) -> _Range:
    lo = max((r for r in (a, b) if r.lo is not None), key=lambda r: (r.lo, r.lo_strict), default=a)
    hi = min((r for r in (a, b) if r.hi is not None), key=lambda r: (r.hi, not r.hi_strict), default=a)
    return a._replace(lo=lo.lo, lo_strict=lo.lo_strict, hi=hi.hi, hi_strict=hi.hi_strict)


def _where_predicate(spark: SparkSession, schema: IcebergSchema, where, time_as_string: bool = False):
    """``(condition, predicate)``: the JVM condition Catalyst resolves for
    ``where`` (a SQL string or a Column) over the rows the scan filters,
    and its predicate over manifest stats. An unknown column raises
    ``AnalysisException``, as the row filter would.

    The condition is the ``Filter`` of an empty relation of those rows
    (memoized in ``_READ_CACHE``), folded by Catalyst's ``ConstantFolding``
    and ``SimplifyCasts`` and read through one ``toJSON()``, so casts,
    zones and decimal scale are Spark's. Attributes map to ``schema``
    columns by name and type. Translated: ``AND``, ``OR``, ``BETWEEN``,
    ``IS NULL``, and ``=``, ``<``, ``<=``, ``>``, ``>=``, ``IN`` of a
    bare attribute and literals, comparisons under an ``AND`` merged
    into one range per column. Anything else (a cast or function around
    the attribute, a NULL or NaN literal, ``NOT``) is None."""
    row_type = T.StructType(
        [T.StructField(c.name, T.StringType()) if time_as_string and c.iceberg_type == "time"
         else c.to_struct_field() for c in schema.columns]
    )
    jvm = _relation_jvm(spark)
    key = ("where", jvm.app, row_type.json())
    empty = _memo(key, lambda: _local_df(spark, [], row_type))
    plan = empty.filter(where)._jdf.queryExecution().analyzed()
    try:
        plan = jvm.simplify_casts.apply(jvm.constant_folding.apply(plan))
    except (Py4JJavaError, PySparkException):
        pass  # a literal Spark cannot cast (ANSI) fails the row filter alike; unfolded, it prunes nothing
    cond = plan.condition()
    columns = {c.name: c for c in schema.columns}
    leaf_ids = itertools.count()  # childless nodes in pre-order, as cond.collectLeaves() lists them
    jleaves = None

    def nest(it):
        n = next(it)
        n["children"] = [nest(it) for _ in range(n["num-children"])]
        n["leaf"] = None if n["children"] else next(leaf_ids)
        return n

    def kind(n) -> str:
        return n["class"].rsplit(".", 1)[-1]

    def column(n):
        c = columns.get(n.get("name")) if kind(n) == "AttributeReference" else None
        return c if c is not None and n["dataType"] == c.spark_type.jsonValue() else None

    def literal(n):
        """The literal's value in the bounds' domain, None if it cannot prune."""
        nonlocal jleaves
        v, t = n.get("value"), n.get("dataType")
        if kind(n) != "Literal" or v is None:
            return None
        if t in ("date", "timestamp"):
            # toJSON renders these in the session zone; Spark holds epoch days / UTC micros
            jleaves = jleaves or cond.collectLeaves()
            raw = jleaves.apply(n["leaf"]).value()
            return _EPOCH_DATE + datetime.timedelta(days=raw) if t == "date" else _EPOCH_TS + datetime.timedelta(microseconds=raw)
        if t == "timestamp_ntz":
            return _EPOCH_TS + datetime.timedelta(microseconds=int(v))
        if t in ("byte", "short", "integer", "long"):
            return int(v)
        if t in ("float", "double"):
            f = float(v) if t == "double" else struct.unpack("<f", struct.pack("<f", float(v)))[0]
            return None if math.isnan(f) else f
        if t.startswith("decimal"):
            return decimal.Decimal(v)
        return {"string": v, "boolean": v == "true"}.get(t)

    def terms(n, op):
        return [t for k in n["children"] for t in (terms(k, op) if kind(k) == op else [k])]

    def tr(n, ref=None):
        op, kids = kind(n), [ref if ref is not None and kind(k) == "CommonExpressionRef" else k for k in n["children"]]
        if op == "Or":
            parts = tuple(_settle(tr(k, ref)) for k in terms(n, op))
            return None if None in parts else _Bool("or", parts)
        if op == "And":
            ranges, rest = {}, []
            for p in (tr(k, ref) for k in terms(n, op)):
                if isinstance(p, _Range):
                    ranges[p.fid] = _intersect(ranges[p.fid], p) if p.fid in ranges else p
                else:
                    rest.append(p)
            parts = tuple(map(_settle, ranges.values())) + tuple(rest)
            if all(p is None for p in parts):
                return None
            return parts[0] if len(parts) == 1 else _Bool("and", parts)
        if op == "Between":
            # its child is what it is replaced by: With(ref >= lower AND ref <= upper, def(input)), folded
            cnd, *defs = kids[0]["children"]
            return tr(cnd, defs[0]["children"][0]) if len(defs) == 1 else None
        if op in _CMP_OPS and len(kids) == 2:
            (a, b), cmp = kids, _CMP_OPS[op]
            if column(b) is not None:
                a, b, cmp = b, a, _MIRROR[cmp]
            c, v = column(a), literal(b)
            if c is None or v is None:
                return None
            lo, hi = (v if cmp in ("=", ">", ">=") else None), (v if cmp in ("=", "<", "<=") else None)
            return _Range(c.field_id, c.spark_type, lo, hi, cmp == ">", cmp == "<")
        if op == "In":
            c, vals = column(kids[0]), [literal(k) for k in kids[1:]]
            if c is None or not vals or None in vals:
                return None
            eqs = tuple(_Range(c.field_id, c.spark_type, v, v) for v in dict.fromkeys(vals))
            return eqs[0] if len(eqs) == 1 else _Bool("or", eqs)
        if op == "IsNull" and column(kids[0]) is not None:
            return _IsNull(column(kids[0]).field_id)
        return None

    return cond, _settle(tr(nest(iter(json.loads(cond.toJSON())))))


def _leaves(p) -> int:
    return sum(map(_leaves, p.kids)) if isinstance(p, _Bool) else int(p is not None)


def _stat(stats: dict, fid: int):
    """A manifest stats map's value for field ``fid`` (int or str keys)."""
    return stats.get(fid, stats.get(str(fid)))


def _prune_by_stats(meta: TableMetadata, entries, pred):
    """Keep the entries whose manifest stats may hold a row matching the
    ``where`` predicate ``pred`` (`_where_predicate`): partition values
    for an equality, column bounds for a range (missing bounds keep the
    file), the null count for ``IS NULL`` (unknown or > 0 keeps it).
    ``AND`` keeps a file if every side may match, ``OR`` (and ``IN``)
    if either side may."""
    if pred is None:
        return entries
    part = _partition_check(meta) or (lambda *a: True)

    def may(p, e) -> bool:
        if p is None:
            return True
        if isinstance(p, _Bool):
            return (all if p.op == "and" else any)(may(k, e) for k in p.kids)
        if isinstance(p, _IsNull):
            n = _stat(e.null_value_counts, p.fid)
            return n is None or n > 0
        lower, upper = _stat(e.lower_bounds, p.fid), _stat(e.upper_bounds, p.fid)
        eq = p.lo is not None and p.lo == p.hi and not (p.lo_strict or p.hi_strict)
        return (not eq or part(e, p.fid, (p.lo,), p.dt)) and range_overlaps(
            lower, upper, p.lo, p.hi, p.dt, p.lo_strict, p.hi_strict
        )

    return [e for e in entries if may(pred, e)]


def _residual_implied(entries, pred) -> bool:
    """True iff the manifest stats of EVERY surviving data file prove
    each of its rows matches ``pred``, so the residual row filter can
    be dropped (as Hive partition predicates never become row filters).
    Only ranges prove, each with a recorded zero null count (a NULL row
    fails the predicate but survives a bounds-only proof) and never on
    a float column (NaN is invisible to bounds but fails comparisons)."""
    def proven(p, e) -> bool:
        if isinstance(p, _Bool):
            return (all if p.op == "and" else any)(proven(k, e) for k in p.kids)
        if not isinstance(p, _Range) or isinstance(p.dt, _FLOATS) or _stat(e.null_value_counts, p.fid) != 0:
            return False
        lower, upper = _stat(e.lower_bounds, p.fid), _stat(e.upper_bounds, p.fid)
        return range_implied(lower, upper, p.lo, p.hi, p.dt, p.lo_strict, p.hi_strict)

    return all(proven(pred, e) for e in entries)


def _avro_data_df(
    spark: SparkSession, schema, files: list[str], uris: Optional[dict] = None
) -> DataFrame:
    """Iceberg AVRO data files through the repo's pure-Python Avro
    codec (plans/avro — the same decoder the manifest layer uses),
    decoded EXECUTOR-side: one task per file via mapInPandas, so no
    file bytes pass through the driver and a many-file table scales
    like any other scan. Row positions are synthesized from record
    order (Avro container files are strictly ordered), so positional
    deletes / DVs / row_lineage compose exactly as with parquet.
    spark-avro is not assumed on the classpath. Column resolution is
    by NAME against the table schema (missing fields -> NULL); the
    rare foreign table carrying avro data files is the target —
    compaction (rewrite_data_files) converts to parquet.

    ``uris`` (manifest path -> URI, `_file_uris`) adds the
    ``__file``/``__pos`` columns, ``__file`` holding the file's URI as
    a parquet scan's ``_metadata.file_path`` would."""
    want_pos = uris is not None
    names = [c.name for c in schema.columns]
    fields = [T.StructField(c.name, c.spark_type) for c in schema.columns]
    if want_pos:
        fields += [T.StructField("__file", T.StringType()), T.StructField("__pos", T.LongType())]
    out = T.StructType(fields)

    def _read(batches):
        import pandas as pd

        from ..plans.avro import read_avro_file

        for pdf in batches:
            for p, uri in pdf.itertuples(index=False):
                _, records = read_avro_file(p)
                d = pd.DataFrame({n: [r.get(n) for r in records] for n in names})
                if want_pos:
                    d["__file"] = uri
                    d["__pos"] = range(len(records))
                yield d

    rows = [(f, uris[f] if want_pos else None) for f in files]
    flist = _local_df(spark, rows, "path string, uri string").repartition(max(1, len(files)))
    return flist.mapInPandas(_read, out)


def _dv_deletes_df(spark: SparkSession, entries, file_key=None) -> DataFrame:
    """Iceberg v3 deletion vectors -> a (file_path, pos) DataFrame.

    ``file_path`` is each DV's referenced data file, as
    ``file_key(referenced_data_file)`` when given (iceberg_scan passes
    its map of data-file URIs, so the rows carry the URI the data side
    reports). ``entries`` come from a `DeleteFileIndex`, which has
    checked that each names its blob's size.

    Decode happens EXECUTOR-side: the driver ships only one
    (puffin_path, offset, size, referenced_file) row per DV — one task
    per blob — and each task seeks+reads its blob and explodes the
    roaring bitmap to delete rows through Arrow
    (plans/roaring.decode_dv_blob). No DV bytes or positions pass
    through the driver, so a table with thousands of DVs scales like
    any other scan. Blob reads route through plans/fs.read_range —
    posix seek+read locally, ranged GETs through pyarrow's native S3
    client for object-store tables (connection snapshot captured at
    plan time, same propagation as the arrow scan path).

    The reference has no v3 support at all (its scan mishandles even
    v2 equality deletes, iceberg_scan.cpp:167-169) — this is part of
    the deliberate extension; format per the public Iceberg v3 spec
    ("Deletion Vectors") + Puffin spec.
    """
    from ..plans.fs import s3_env_conf, scheme_of

    rows = [
        (
            e.file_path,
            int(e.content_offset),
            int(e.content_size),
            (file_key or str)(e.referenced_data_file or ""),
        )
        for e in entries
    ]
    conf = (
        s3_env_conf()
        if any(scheme_of(p) in ("s3", "s3a") for p, *_ in rows)
        else None
    )
    src = _local_df(spark, rows, "puffin string, off long, size long, ref string")

    def _decode(batches):
        import pandas as pd

        from ..plans.fs import read_range
        from ..plans.roaring import decode_dv_blob

        for pdf in batches:
            for puffin, off, size, ref in pdf.itertuples(index=False):
                positions = decode_dv_blob(read_range(puffin, off, size, conf))
                yield pd.DataFrame(
                    {"file_path": ref, "pos": positions.astype("int64")}
                )

    return src.repartition(max(1, len(rows))).mapInPandas(
        _decode, "file_path string, pos long"
    )


# Per-equality_ids-group broadcast cap for delete-side tables (compressed
# on-disk bytes from the manifests). Matches the session's 32 MiB
# autoBroadcastJoinThreshold; above it the anti-join shuffles instead.
_EQ_DELETE_BROADCAST_BYTES = 32 * 1024 * 1024


def _apply_equality_deletes(
    spark: SparkSession,
    df: DataFrame,
    data_entries: list,
    eq_entries: list,
    schema: IcebergSchema,
    uris: dict,
) -> DataFrame:
    """Equality deletes: anti-join on the delete file's equality_ids
    columns, scoped so a delete only applies to rows from data files
    with a strictly smaller sequence number.

    Deliberate improvement over the reference, which treats every
    delete file as positional (iceberg_scan.cpp:167-169) and would
    read equality-delete tables incorrectly (SURVEY.md §2A 'absent').

    Batched for scale (r8 VERDICT #2): all delete files sharing one
    ``equality_ids`` set are read in a SINGLE union scan, their
    per-file sequence numbers re-attached via ``_metadata.file_path``,
    reduced to ``max(seq)`` per key (a row dies iff ANY matching
    delete has a larger seq ⟺ the max does), and applied with ONE
    anti-join — so plan size is O(distinct equality_ids sets), not
    O(delete files), and a MoR table carrying thousands of
    equality-delete files doesn't blow up the analyzer. The broadcast
    is size-gated on the manifests' recorded file sizes; an oversized
    group falls back to a shuffled null-safe-equi anti-join.

    ``eq_entries`` are the files `DeleteFileIndex.for_files` keeps, and
    each row applies the index's sequence rule. ``uris`` maps each data
    file's manifest path to the URI ``__file`` carries for it, so the
    data rows meet the sequence-number lookup on ``__file`` untouched."""
    id_to_name = {c.field_id: c.name for c in schema.columns}
    # data-file -> sequence number lookup (tiny; broadcast)
    seq_rows = [(uris[e.file_path], e.sequence_number or 0) for e in data_entries]
    seq_df = _local_df(spark, seq_rows, "___df_path string, ___data_seq long")
    df = df.join(F.broadcast(seq_df), df["__file"] == seq_df["___df_path"], "left").drop("___df_path")

    from collections import defaultdict

    groups: dict[tuple, list] = defaultdict(list)
    for e in eq_entries:
        groups[tuple(sorted(e.equality_ids or []))].append(e)
    for eq_ids, entries in groups.items():
        cols = [id_to_name[i] for i in eq_ids if i in id_to_name]
        if not cols:
            continue
        # one union read; per-file seq rejoined on _metadata.file_path,
        # each delete file keyed by the URI Spark reports for it
        dels = _parquet_relation(spark, entries)
        del_uris = _file_uris(spark, entries)
        dseq_rows = [(del_uris[e.file_path], e.sequence_number or 0) for e in entries]
        dseq_df = _local_df(spark, dseq_rows, "___del_path string, ___del_seq long")
        dels = dels.select(*cols, F.col("_metadata.file_path").alias("___dfile"))
        dels = dels.join(
            F.broadcast(dseq_df), dels["___dfile"] == dseq_df["___del_path"], "inner"
        ).drop("___del_path", "___dfile")
        dels = dels.groupBy(*cols).agg(F.max("___del_seq").alias("___del_seq"))
        renamed = dels.select(
            *[F.col(c).alias(f"___eq_{c}") for c in cols], "___del_seq"
        )
        total_bytes = sum(e.file_size_in_bytes or 0 for e in entries)
        if total_bytes <= _EQ_DELETE_BROADCAST_BYTES:
            renamed = F.broadcast(renamed)
        cond = None
        for c in cols:
            clause = df[c].eqNullSafe(renamed[f"___eq_{c}"])
            cond = clause if cond is None else (cond & clause)
        cond = cond & DeleteFileIndex.equality_applies(df["___data_seq"], renamed["___del_seq"])
        df = df.join(renamed, cond, "left_anti")
    return df.drop("___data_seq")


_SNAPSHOTS_SCHEMA = T.StructType(
    [
        T.StructField("sequence_number", T.LongType()),
        T.StructField("snapshot_id", T.LongType()),
        T.StructField("timestamp_ms", T.TimestampType()),
        T.StructField("manifest_list", T.StringType()),
    ]
)


def iceberg_snapshots(
    spark: SparkSession,
    path: str,
    *,
    version: Optional[str] = None,
    version_name_format: str = DEFAULT_TABLE_VERSION_FORMAT,
    metadata_compression_codec: str = "none",
    unsafe_enable_version_guessing: bool = False,
) -> DataFrame:
    """Snapshot listing — 4-column schema of the reference
    (iceberg_snapshots.cpp:80-91)."""
    meta = _load(
        path,
        version=version,
        version_name_format=version_name_format,
        metadata_compression_codec=metadata_compression_codec,
        unsafe_enable_version_guessing=unsafe_enable_version_guessing,
    )
    rows = [
        (
            s.sequence_number,
            s.snapshot_id,
            datetime.datetime.fromtimestamp(s.timestamp_ms / 1000.0, tz=datetime.timezone.utc).replace(tzinfo=None),
            s.manifest_list,
        )
        for s in meta.snapshots
    ]
    return _local_df(spark, rows, _SNAPSHOTS_SCHEMA)


_HISTORY_SCHEMA = "made_current_at timestamp, snapshot_id long, parent_id long, is_current_ancestor boolean"


def iceberg_history(
    spark: SparkSession,
    path: str,
    *,
    version: Optional[str] = None,
    version_name_format: str = DEFAULT_TABLE_VERSION_FORMAT,
    metadata_compression_codec: str = "none",
    unsafe_enable_version_guessing: bool = False,
) -> DataFrame:
    """Table history from the metadata ``snapshot-log`` — the Spark
    ``<table>.history`` metadata-table schema (made_current_at,
    snapshot_id, parent_id, is_current_ancestor). Beyond-reference:
    the extension exposes snapshots but not the current-ancestry log.
    """
    meta = _load(
        path,
        version=version,
        version_name_format=version_name_format,
        metadata_compression_codec=metadata_compression_codec,
        unsafe_enable_version_guessing=unsafe_enable_version_guessing,
    )
    parents = {
        s["snapshot-id"]: s.get("parent-snapshot-id") for s in meta.raw.get("snapshots", [])
    }
    # current ancestry: walk parent links from the current snapshot
    ancestors: set[int] = set()
    cur = meta.current_snapshot_id
    if cur is None and meta.snapshots:
        cur = meta.latest_snapshot().snapshot_id
    while cur is not None:
        ancestors.add(cur)
        cur = parents.get(cur)
    rows = [
        (
            datetime.datetime.fromtimestamp(e["timestamp-ms"] / 1000.0, tz=datetime.timezone.utc).replace(
                tzinfo=None
            ),
            e["snapshot-id"],
            parents.get(e["snapshot-id"]),
            e["snapshot-id"] in ancestors,
        )
        for e in meta.raw.get("snapshot-log", [])
    ]
    return _local_df(spark, rows, _HISTORY_SCHEMA)


_PARTITIONS_SCHEMA = (
    "partition map<string,string>, record_count long, file_count int, total_size_bytes long"
)


def iceberg_partitions(
    spark: SparkSession,
    path: str,
    snapshot_id: Optional[int] = None,
    timestamp=None,
    *,
    version: Optional[str] = None,
    version_name_format: str = DEFAULT_TABLE_VERSION_FORMAT,
    metadata_compression_codec: str = "none",
    allow_moved_paths: bool = False,
    unsafe_enable_version_guessing: bool = False,
) -> DataFrame:
    """Per-partition summary (Spark's ``<table>.partitions`` metadata
    table): record/file/byte counts straight from manifests — no data
    files touched, O(#files) driver work at any data scale.
    Beyond-reference: the extension drops partition values from its
    partial Avro schema (SURVEY §2A 'Partition pruning... NOT
    implemented')."""
    meta = _load(
        path,
        version=version,
        version_name_format=version_name_format,
        metadata_compression_codec=metadata_compression_codec,
        unsafe_enable_version_guessing=unsafe_enable_version_guessing,
    )
    snap = _select_snapshot(meta, snapshot_id, timestamp)
    scan = load_table_scan(meta, snap, _table_root(path), allow_moved_paths)
    agg: dict[tuple, list] = {}
    for e in scan.data_files():
        key = tuple(sorted((str(k), "" if v is None else str(v)) for k, v in (e.partition or {}).items()))
        slot = agg.setdefault(key, [0, 0, 0])
        slot[0] += e.record_count
        slot[1] += 1
        slot[2] += e.file_size_in_bytes
    rows = [(dict(k), rc, fc, sz) for k, (rc, fc, sz) in sorted(agg.items())]
    return _local_df(spark, rows, _PARTITIONS_SCHEMA)


_METADATA_SCHEMA = (
    "manifest_path string, manifest_sequence_number long, manifest_content string, "
    "status string, content string, file_path string, file_format string, record_count long"
)

_STATUS_STR = {EntryStatus.EXISTING: "EXISTING", EntryStatus.ADDED: "ADDED", EntryStatus.DELETED: "DELETED"}
_MANIFEST_CONTENT_STR = {ManifestContent.DATA: "DATA", ManifestContent.DELETE: "DELETE"}
# Reference quirk kept verbatim: entry content DATA renders as
# "EXISTING" (iceberg_types.hpp:47-56).
_ENTRY_CONTENT_STR = {
    FileContent.DATA: "EXISTING",
    FileContent.POSITION_DELETES: "POSITION_DELETES",
    FileContent.EQUALITY_DELETES: "EQUALITY_DELETES",
}


def iceberg_metadata(
    spark: SparkSession,
    path: str,
    snapshot_id: Optional[int] = None,
    timestamp=None,
    *,
    version: Optional[str] = None,
    version_name_format: str = DEFAULT_TABLE_VERSION_FORMAT,
    metadata_compression_codec: str = "none",
    allow_moved_paths: bool = False,
    unsafe_enable_version_guessing: bool = False,
) -> DataFrame:
    """Manifest + entry listing — 8-column schema of the reference
    (iceberg_types.hpp:107-117,190-198)."""
    meta = _load(
        path,
        version=version,
        version_name_format=version_name_format,
        metadata_compression_codec=metadata_compression_codec,
        unsafe_enable_version_guessing=unsafe_enable_version_guessing,
    )
    snap = _select_snapshot(meta, snapshot_id, timestamp)
    scan = load_table_scan(meta, snap, _table_root(path), allow_moved_paths)
    rows = []
    for mf, entries in scan.manifests:
        for e in entries:
            rows.append(
                (
                    mf.manifest_path,
                    mf.sequence_number,
                    _MANIFEST_CONTENT_STR[mf.content],
                    _STATUS_STR[e.status],
                    _ENTRY_CONTENT_STR[e.content],
                    e.raw_file_path or e.file_path,
                    e.file_format.upper(),
                    e.record_count,
                )
            )
    return _local_df(spark, rows, _METADATA_SCHEMA)


def iceberg_table_statistics(
    spark: SparkSession,
    path: str,
    *,
    metadata_compression_codec: str = "none",
    verify_payload: bool = False,
) -> DataFrame:
    """Table-statistics metadata table: one row per statistics blob —
    ``(snapshot_id, column, blob_type, ndv)`` — from metadata.json's
    ``statistics`` list (Iceberg spec "Table statistics", written by
    :meth:`IcebergTable.compute_statistics`). Pure driver-side
    metadata: the blob ``ndv`` PROPERTY carries the number (the part
    Trino/Spark planners consume); ``verify_payload=True``
    additionally cross-checks each ndv-long-v1 payload through
    plans/fs.read_range. The reference has no statistics support."""
    import struct as _struct

    from ..plans.fs import read_range

    meta = _load(
        path,
        version=None,
        version_name_format=DEFAULT_TABLE_VERSION_FORMAT,
        metadata_compression_codec=metadata_compression_codec,
        unsafe_enable_version_guessing=False,
    )
    schema = meta.schemas[meta.current_schema_id]
    id_to_name = {c.field_id: c.name for c in schema.columns}
    rows = []
    for s in meta.raw.get("statistics", []):
        for b in s.get("blob-metadata", []):
            fields = b.get("fields") or []
            col = id_to_name.get(fields[0]) if len(fields) == 1 else None
            ndv = b.get("properties", {}).get("ndv")
            ndv = int(ndv) if ndv is not None else None
            if verify_payload and b.get("type") == "ndv-long-v1":
                raw = read_range(s["statistics-path"], b["offset"], b["length"])
                (payload_ndv,) = _struct.unpack("<q", raw)
                if payload_ndv != ndv:
                    raise ValueError(
                        f"statistics blob payload/property mismatch for {col}: "
                        f"{payload_ndv} != {ndv}"
                    )
            rows.append((s.get("snapshot-id"), col, b.get("type"), ndv))
    return _local_df(
        spark, rows, "snapshot_id long, column string, blob_type string, ndv long"
    )


def iceberg_join(
    spark: SparkSession,
    fact: DataFrame,
    dim_path: str,
    on: str | list[str],
    *,
    how: str = "inner",
    broadcast_threshold_bytes: int = 32 * 1024 * 1024,
    **scan_opts,
) -> DataFrame:
    """Statistics-informed join of ``fact`` against an Iceberg dim
    table: the broadcast decision comes from TABLE METADATA — total
    live data-file bytes from the manifests. For semi/anti joins the
    estimate is additionally de-rated by the join key's ndv from
    Puffin statistics, because those joins only test key EXISTENCE:
    the build side is first reduced to ``select(keys).distinct()``
    (semantics-preserving for semi/anti), so the broadcast relation
    really does hold ~ndv rows. For inner/outer joins no de-rate
    applies — Spark's broadcast hash relation materializes EVERY
    build row (duplicates must all be kept to emit matches), so raw
    bytes are the honest estimate. No data is read to plan: at 100 TB
    the decision costs two KB-scale metadata reads. Falls back to a
    plain join (AQE decides) above threshold."""
    from ..plans.manifests import load_table_scan

    keys = [on] if isinstance(on, str) else list(on)
    meta = _load(
        dim_path,
        version=None,
        version_name_format=DEFAULT_TABLE_VERSION_FORMAT,
        metadata_compression_codec=scan_opts.get("metadata_compression_codec", "none"),
        unsafe_enable_version_guessing=False,
    )
    snap = meta.latest_snapshot()
    dim = iceberg_scan(spark, dim_path, **scan_opts)
    if snap is None:
        return fact.join(dim, keys, how)
    scan = load_table_scan(meta, snap, _table_root(dim_path), False)
    total_bytes = sum(e.file_size_in_bytes for e in scan.data_files())
    total_rows = sum(e.record_count for e in scan.data_files()) or 1
    # ndv of the (first) join key, when statistics were collected —
    # only usable when the build side is deduplicated by the keys
    # (semi/anti), see docstring
    schema = meta.schemas[meta.current_schema_id]
    name_to_id = {c.name: c.field_id for c in schema.columns}
    ndv = None
    for s in meta.raw.get("statistics", []):
        if s.get("snapshot-id") != snap.snapshot_id:
            continue
        for b in s.get("blob-metadata", []):
            if b.get("fields") == [name_to_id.get(keys[0])]:
                v = b.get("properties", {}).get("ndv")
                ndv = int(v) if v is not None else None
    if total_bytes <= broadcast_threshold_bytes:
        return fact.join(F.broadcast(dim), keys, how)
    semi_like = how.lower().replace("_", "") in ("semi", "leftsemi", "anti", "leftanti")
    if semi_like and ndv is not None and total_rows:
        # semi/anti only test key EXISTENCE, so the build side can be
        # reduced to its distinct keys without changing results; the
        # ndv-derated estimate is then honest — the broadcast relation
        # holds ~ndv key-only rows, not every duplicated dim row.
        derated = math.ceil(total_bytes * (ndv / total_rows))
        if derated <= broadcast_threshold_bytes:
            dim_keys = dim.select(*keys).dropDuplicates(keys)
            return fact.join(F.broadcast(dim_keys), keys, how)
    return fact.join(dim, keys, how)


def register_sql_views(spark, path: str, name: str, **opts) -> list[str]:
    """SQL-first usage parity with the reference extension: register a
    family of temp views so every query a DuckDB user writes against
    ``iceberg_scan('<path>')`` / ``iceberg_snapshots`` /
    ``iceberg_metadata`` becomes plain ``spark.sql`` against
    ``<name>`` / ``<name>_snapshots`` / ``<name>_metadata`` (plus the
    beyond-reference ``_history`` / ``_partitions`` / ``_files``
    metadata tables).

    ``opts`` are forwarded to ``iceberg_scan`` (time travel, codec,
    moved paths, ...). Returns the registered view names.

    The data view is a lazy DataFrame: registration costs one
    driver-side metadata resolution, and every SQL query against it
    re-plans from the same snapshot (stable reads; re-register to see
    new commits).
    """
    scan_opts = dict(opts)
    scan_opts.pop("mode", None)  # the family fixes each view's mode itself
    meta_opts = {
        "metadata_compression_codec": opts.get("metadata_compression_codec", "none")
    }
    # time travel applies uniformly: the metadata views resolve the
    # same snapshot the data view reads (reference usage pins all of
    # iceberg_scan/_snapshots/_metadata to one version in one script,
    # test/sql/iceberg_scan.test:17-32).
    travel = {k: opts[k] for k in ("snapshot_id", "timestamp") if k in opts}
    moved = {"allow_moved_paths": opts.get("allow_moved_paths", False)}
    views = {
        name: iceberg_scan(spark, path, **scan_opts),
        f"{name}_snapshots": iceberg_snapshots(spark, path, **meta_opts),
        f"{name}_metadata": iceberg_metadata(spark, path, **meta_opts, **travel, **moved),
        f"{name}_history": iceberg_history(spark, path, **meta_opts),
        f"{name}_partitions": iceberg_partitions(spark, path, **meta_opts, **travel, **moved),
        f"{name}_files": iceberg_scan(spark, path, mode="list_files", **scan_opts),
    }
    for vname, df in views.items():
        df.createOrReplaceTempView(vname)
    return list(views)
