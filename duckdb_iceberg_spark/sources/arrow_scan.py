"""Batch Arrow-native Iceberg reads (PySpark Python Data Source).

``iceberg_scan(..., io="arrow")`` plans the scan on the DRIVER —
snapshot selection, manifest walk, partition/zone-map pruning: the
exact same code path as the default ``io="spark"`` — and ships the
resolved plan into a Python Data Source: one ``InputPartition`` per
data file, pyarrow reads on executors with field-id column resolution
and in-reader positional-delete application.

Why it exists: batch-query tables whose data lives on object stores
the Spark JVM has no connector for (``s3://`` without hadoop-aws on
the classpath) — pyarrow's bundled S3 client does the IO instead,
with connection config captured at plan time (executor workers and
the data source's Python runner inherit the JVM's frozen env, so env
alone cannot propagate). Reference counterpart: the S3 remote tier
(test/sql/iceberg_scan_generated_data_0_01_remote.test_slow:27-37),
where DuckDB's httpfs plays the role pyarrow-S3 plays here.

Semantics parity with the default path:

- columns resolve by parquet field id; files written before a rename
  stream under the current name, columns added later read as NULL
  (then ``initial-default`` coalescing applies in iceberg_scan);
- physical type changes (INT -> BIGINT widening) cast per file to the
  current schema's arrow type;
- each file lists the delete files ``DeleteFileIndex.for_file`` finds
  for it (plans/manifests.py, the rule the default path reads too);
- positional deletes and deletion vectors apply in-reader: a delete
  row matches when its ``file_path`` equals the file's path as the
  manifest stores it, moved table or not;
- equality deletes apply in-reader: each applicable delete file's key
  columns are read and matching rows are masked out with null-safe
  tuple equality.

The plan JSON rides in a data source option — O(#files) strings.
Fine for the thousands-of-files regime; beyond that use the default
``io="spark"``, whose file list stays in the JVM.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession
from pyspark.sql import types as T
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..plans.manifests import stored_path


class _ArrowSlice(InputPartition):
    """One data file: (path to read, path as the manifest stores it,
    [(field_id, name, spark_type_json)], applicable positional-delete
    paths, applicable equality deletes ([{path, cols}]), v3 deletion
    vectors ([[puffin, off, size]]), S3 conf)."""

    def __init__(self, path, stored, fields, deletes, eq_deletes, dvs, fs_conf):
        self.path = path
        self.stored = stored
        self.fields = fields
        self.deletes = deletes
        self.eq_deletes = eq_deletes
        self.dvs = dvs
        self.fs_conf = fs_conf


def _read_aligned(partition: _ArrowSlice):
    """pyarrow Table with exactly the schema's columns, in order:
    field-id resolution, per-file cast to the current arrow type,
    NULL columns for fields this file predates."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_type

    from ..plans.fs import arrow_fs_path

    afs, apath = arrow_fs_path(partition.path, partition.fs_conf)
    try:
        fschema = pq.read_schema(apath, filesystem=afs)
    except OSError as e:
        if "LogicalType" not in str(e):
            raise
        # Spark's VARIANT logical annotation is newer than pyarrow's
        # thrift table — read through in-process DuckDB instead and
        # reassemble shredded variant groups into Spark's arrow layout
        return _read_variant_fallback(partition, apath, afs)
    by_fid = {}
    for f in fschema:
        fid = (f.metadata or {}).get(b"PARQUET:field_id")
        if fid is not None:
            by_fid[int(fid)] = f.name
    want = []
    for fid, cur_name, _st, *alt in partition.fields:
        pname = by_fid.get(fid) if fid is not None else None
        if pname is None and not by_fid:
            # file has no field ids: resolve by current name, then by
            # schema.name-mapping.default candidates (files imported
            # via add_files before a rename carry the old name)
            for cand in [cur_name] + (alt[0] if alt else []):
                if cand in fschema.names:
                    pname = cand
                    break
        want.append(pname)
    table = pq.read_table(
        apath, columns=[p for p in want if p is not None], filesystem=afs
    )
    n = table.num_rows
    arrays, names = [], []
    for (fid, cur_name, st_json, *_alt), pname in zip(partition.fields, want):
        at = to_arrow_type(T._parse_datatype_json_string(json.dumps(st_json)))
        if pname is None:
            arrays.append(pa.nulls(n, type=at))
        else:
            col = table.column(pname)
            arrays.append(col.cast(at) if col.type != at else col)
        names.append(cur_name)
    return pa.table(dict(zip(names, arrays))) if names else pa.table({})


def _read_variant_fallback(partition: _ArrowSlice, apath: str, afs):
    """Arrow-path reader for data files carrying Spark's VARIANT
    parquet logical type, which this pyarrow's footer parser rejects.
    DuckDB (in-process, executor-side — already a hard dependency of
    the oracle harness) tolerates the unknown annotation and exposes
    the physical group: ``metadata`` / residual ``value`` / optional
    shredded ``typed_value`` subtree. Rows are merged back into one
    canonical value binary by the shredding spec's reader algorithm
    (plans/variant.reassemble_shredded) and emitted in Spark's arrow
    layout for VariantType — struct<value, metadata> — so
    ``variant_get`` works on the result exactly as on the default
    path. Non-variant columns resolve by name. Local paths only:
    the writer only produces variant tables Spark itself wrote."""
    import duckdb
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    from ..plans.variant import reassemble_shredded

    if afs is not None:
        raise ValueError(
            "variant data files on object stores are not supported on the "
            "arrow path; use the default io='spark'"
        )
    table = duckdb.sql(
        "SELECT * FROM read_parquet(?)", params=[apath]
    ).arrow().combine_chunks()
    n = table.num_rows
    arrays, names = [], []
    for fid, cur_name, st_json, *_alt in partition.fields:
        at = to_arrow_type(T._parse_datatype_json_string(json.dumps(st_json)))
        if cur_name not in table.column_names:
            arrays.append(pa.nulls(n, type=at))
            names.append(cur_name)
            continue
        col = table.column(cur_name).combine_chunks()
        if (
            pa.types.is_struct(at)
            and {f.name for f in at} == {"value", "metadata"}
            and pa.types.is_struct(col.type)
            and "metadata" in [f.name for f in col.type]
        ):
            rows = col.to_pylist()
            vals, metas, mask = [], [], []
            for r in rows:
                if r is None or r.get("metadata") is None:
                    vals.append(b"")
                    metas.append(b"")
                    mask.append(True)
                    continue
                meta = bytes(r["metadata"])
                v = r.get("value")
                blob = reassemble_shredded(
                    meta, None if v is None else bytes(v), r.get("typed_value")
                )
                vals.append(blob)
                metas.append(meta)
                mask.append(False)
            col = pa.StructArray.from_arrays(
                [pa.array(vals, type=pa.binary()), pa.array(metas, type=pa.binary())],
                fields=[at.field("value"), at.field("metadata")],
                mask=pa.array(mask),
            )
        elif col.type != at:
            col = col.cast(at)
        arrays.append(col)
        names.append(cur_name)
    return pa.table(dict(zip(names, arrays))) if names else pa.table({})


def _delete_positions(partition: _ArrowSlice) -> set:
    """Row positions deleted from this file by its applicable
    positional-delete files: rows naming its stored path."""
    import pyarrow.parquet as pq

    from ..plans.fs import arrow_fs_path

    key = stored_path(partition.stored)
    drop: set = set()
    for dp in partition.deletes:
        afs, ap = arrow_fs_path(dp, partition.fs_conf)
        dt = pq.read_table(ap, columns=["file_path", "pos"], filesystem=afs)
        for fp, pos in zip(dt.column("file_path").to_pylist(), dt.column("pos").to_pylist()):
            if stored_path(fp) == key:
                drop.add(pos)
    return drop


def _dv_positions(partition: _ArrowSlice) -> set:
    """Row positions deleted from this file by its v3 deletion
    vectors: each (puffin, offset, size) triple is ranged-read through
    plans/fs.read_range and decoded with the portable-roaring codec —
    the arrow-path twin of the default path's executor-side
    _dv_deletes_df (sources/iceberg.py)."""
    from ..plans.fs import read_range
    from ..plans.roaring import decode_dv_blob

    drop: set = set()
    for puffin, off, size in partition.dvs:
        blob = read_range(puffin, int(off), int(size), partition.fs_conf)
        drop.update(int(p) for p in decode_dv_blob(blob))
    return drop


def _equality_mask(table, eq_deletes, fs_conf):
    """Boolean keep-mask over ``table`` rows for the applicable
    equality-delete files: a row is dropped when its tuple of key
    values (null-safe — None matches None, per the Iceberg spec's
    equality semantics) appears in any delete file sharing that key
    set. Delete keys load as python tuples (delete files are small
    relative to data, the same bound the default path's broadcast
    anti-join assumes)."""
    import pyarrow.parquet as pq

    from ..plans.fs import arrow_fs_path

    keep = [True] * table.num_rows
    by_cols: dict = {}
    for spec in eq_deletes:
        cols = tuple(spec["cols"])
        afs, ap = arrow_fs_path(spec["path"], fs_conf)
        dt = pq.read_table(ap, columns=list(cols), filesystem=afs)
        keys = by_cols.setdefault(cols, set())
        keys.update(zip(*[dt.column(c).to_pylist() for c in cols]))
    for cols, keys in by_cols.items():
        data = [table.column(c).to_pylist() for c in cols]
        for i, tup in enumerate(zip(*data)):
            if tup in keys:
                keep[i] = False
    return keep


class _IcebergArrowReader(DataSourceReader):
    def __init__(self, plan: dict):
        self.plan = plan

    def partitions(self):
        p = self.plan
        fields = [tuple(x) for x in p["fields"]]
        return [
            _ArrowSlice(f["path"], f["stored"], fields, f["deletes"], f["eq"], f["dvs"], p.get("fs_conf"))
            for f in p["files"]
        ]

    def read(self, partition: _ArrowSlice):
        import pyarrow as pa

        table = _read_aligned(partition)
        if partition.deletes or partition.dvs:
            drop = _delete_positions(partition) if partition.deletes else set()
            if partition.dvs:
                drop |= _dv_positions(partition)
            if drop:
                mask = pa.array([i not in drop for i in range(table.num_rows)])
                table = table.filter(mask)
        if partition.eq_deletes and table.num_rows:
            keep = _equality_mask(table, partition.eq_deletes, partition.fs_conf)
            if not all(keep):
                table = table.filter(pa.array(keep))
        yield from table.to_batches()


# Credentials ride as individually named options whose keys match
# Spark's default redaction regex ((?i)secret|...|token), NOT inside
# the 'plan' JSON — df.explain(), event logs, and the UI show the
# plan option verbatim but redact these (same names as the streaming
# source's options, streaming/iceberg_source.py).
_CRED_OPTS = [
    ("s3.access_key", "access_key"),
    ("s3.secret_key", "secret_key"),
    ("s3.session_token", "session_token"),
]


class IcebergArrowDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "iceberg_arrow"

    def schema(self):
        return T.StructType.fromJson(json.loads(self.options["plan"])["schema"])

    def reader(self, schema):
        plan = json.loads(self.options["plan"])
        creds = {
            key: self.options[opt] for opt, key in _CRED_OPTS if opt in self.options
        }
        if creds:
            plan["fs_conf"] = {**(plan.get("fs_conf") or {}), **creds}
        return _IcebergArrowReader(plan)


def arrow_scan_df(spark: SparkSession, schema, data_entries, deletes, name_mapping: dict | None = None):
    """DataFrame over the resolved scan plan, read through pyarrow.

    ``schema`` is the snapshot's IcebergSchema; ``data_entries`` the
    pruned data-file ManifestEntry list; ``deletes`` the snapshot's
    `DeleteFileIndex`, which lists each file's position-delete files,
    deletion vectors and equality-delete files; ``name_mapping`` is the
    parsed schema.name-mapping.default ({field_id: [names]}) for id-less
    imported files."""
    from ..plans.fs import s3_env_conf, scheme_of

    id_to_name = {c.field_id: c.name for c in schema.columns}
    files, paths = [], []
    for e in data_entries:
        pos, dvs, eqs = deletes.for_file(e)
        paths += [d.file_path for d in [e, *pos, *dvs, *eqs]]
        eq = [
            {"path": d.file_path, "cols": [id_to_name[i] for i in (d.equality_ids or []) if i in id_to_name]}
            for d in eqs
        ]
        files.append(
            {
                "path": e.file_path,
                "stored": e.raw_file_path or e.file_path,
                "deletes": [d.file_path for d in pos],
                "eq": [x for x in eq if x["cols"]],
                "dvs": [[d.file_path, int(d.content_offset), int(d.content_size)] for d in dvs],
            }
        )
    fs_conf = (
        s3_env_conf() if any(scheme_of(p) in ("s3", "s3a") for p in paths) else None
    )
    # Secrets NEVER enter the plan JSON (it is a non-redacted option
    # visible in explain/UI/event logs) — split them out to their own
    # redaction-matching options below.
    creds = {}
    if fs_conf:
        for _opt, key in _CRED_OPTS:
            val = fs_conf.pop(key, None)
            if val:
                creds[key] = val
    st = schema.to_struct_type()
    plan = {
        "schema": json.loads(st.json()),
        "fields": [
            [c.field_id, c.name, json.loads(f.dataType.json()), (name_mapping or {}).get(c.field_id, [])]
            for c, f in zip(schema.columns, st.fields)
        ],
        "files": files,
        "fs_conf": fs_conf,
    }
    spark.dataSource.register(IcebergArrowDataSource)
    reader = spark.read.format("iceberg_arrow").option("plan", json.dumps(plan))
    for opt, key in _CRED_OPTS:
        if key in creds:
            reader = reader.option(opt, creds[key])
    return reader.load()
