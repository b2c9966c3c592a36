"""What one commit writes: compact metadata JSON, deflate manifests and
manifest lists, zstd parquet through ``write.parquet.compression-codec``,
INT64 timestamps, and one data file per driver-held batch smaller than
Iceberg's default target file size."""

import glob
import json
import logging
import os
import zlib

import duckdb
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from duckdb_iceberg_spark import IcebergTable
from duckdb_iceberg_spark import writer as W
from duckdb_iceberg_spark.plans.avro import read_avro_file
from duckdb_iceberg_spark.plans.manifests import load_table_scan
from duckdb_iceberg_spark.sources import iceberg as SRC


def _batch(n, start=0):
    return pd.DataFrame(
        {
            "k": range(start, start + n),
            "v": [f"value-{i:06d}" for i in range(start, start + n)],
            "p": [i % 3 for i in range(start, start + n)],
        }
    )


def _files(t, snapshot=None):
    snap = t.meta.latest_snapshot() if snapshot is None else snapshot
    scan = load_table_scan(t.meta, snap, t.path, False)
    return scan.data_files(), scan.positional_delete_files()


@pytest.fixture
def leaf_parallelism(spark):
    """Sets how many tasks scan a driver-held frame, as the core count
    does by default; restored afterwards."""
    key = "spark.sql.leafNodeDefaultParallelism"

    def set_to(n):
        spark.conf.set(key, str(n))

    yield set_to
    spark.conf.unset(key)


@pytest.fixture
def mutated(spark, tmp_path):
    """A v2 table after create, append, delete_where and merge."""
    path = str(tmp_path / "t")
    t = IcebergTable.create(spark, path, spark.createDataFrame(_batch(300)))
    t.append(spark.createDataFrame(_batch(300, 300)))
    t.delete_where("k % 10 = 0")
    t.merge(spark.createDataFrame(_batch(100, 550)), on="k", when_matched_update={"v": "'merged'"})
    return IcebergTable(spark, path)


def test_metadata_json_is_compact_and_loads(spark, tmp_path, mutated):
    docs = sorted(glob.glob(os.path.join(mutated.path, "metadata", "v*.metadata.json")))
    assert len(docs) == 5  # create, append, append, delete, merge
    for p in docs:
        data = open(p, "rb").read()
        assert data == json.dumps(json.loads(data), separators=(",", ":")).encode(), p
    assert [s.summary["operation"] for s in mutated.meta.snapshots] == ["append", "append", "delete", "overwrite"]
    # 60 keys deleted; the merge updates its 45 live matches and inserts
    # 55 rows: 600..649 and the 5 deleted keys 550, 560, ..., 590
    assert mutated.scan().count() == 600 - 60 + 55
    # the gzip form compresses the same compact bytes
    gz = str(tmp_path / "gz")
    g = IcebergTable.create(spark, gz, spark.createDataFrame(_batch(10)), metadata_compression_codec="gzip")
    raw = zlib.decompress(open(g.meta.metadata_path, "rb").read(), 31)
    assert b"\n" not in raw and b": " not in raw
    assert IcebergTable(spark, gz, "gzip").scan().count() == 10


def test_manifests_and_lists_are_deflate(mutated):
    avros = glob.glob(os.path.join(mutated.path, "metadata", "*.avro"))
    lists = [p for p in avros if os.path.basename(p).startswith("snap-")]
    assert len(lists) == 4 and len(avros) > len(lists)
    for p in avros:
        meta, records = read_avro_file(p)
        assert meta["avro.codec"] == b"deflate", p
        assert records, p


def test_data_and_delete_files_are_zstd_and_read_by_duckdb(mutated):
    assert mutated.meta.raw["properties"]["write.parquet.compression-codec"] == "zstd"
    data, deletes = _files(mutated)
    assert data and deletes
    for e in data + deletes:
        md = pq.ParquetFile(e.file_path).metadata
        cols = [md.row_group(g).column(c) for g in range(md.num_row_groups) for c in range(md.num_columns)]
        codecs = {col.compression for col in cols}
        assert codecs == {"ZSTD"}, e.file_path
    # DuckDB reads the zstd data and delete files to the engine's rows
    engine = sorted((r.k, r.v) for r in mutated.scan().collect())
    paths = [e.file_path for e in data]
    dels = [e.file_path for e in deletes]
    rows = duckdb.sql(
        f"""
        SELECT k, v FROM read_parquet({paths!r}, filename = true, file_row_number = true) d
        ANTI JOIN read_parquet({dels!r}) x ON x.file_path = d.filename AND x.pos = d.file_row_number
        """
    ).fetchall()
    assert sorted(rows) == engine
    assert duckdb.sql(f"SELECT count(*) FROM read_parquet({dels!r})").fetchone()[0] == 60 + 45


@pytest.mark.parametrize("tasks", [2, 4])
def test_driver_held_batch_writes_one_file(spark, tmp_path, leaf_parallelism, tasks):
    leaf_parallelism(tasks)
    batch = spark.createDataFrame(_batch(600))
    assert batch.rdd.getNumPartitions() == tasks
    t = IcebergTable.create(spark, str(tmp_path / "t"), batch)
    assert [e.record_count for e in _files(t)[0]] == [600]
    t.append(spark.createDataFrame(_batch(600, 600)))
    assert [e.record_count for e in _files(t)[0]] == [600, 600]


def test_wide_driver_held_batch_is_sized_by_its_bytes(spark, tmp_path, leaf_parallelism, monkeypatch):
    """The plan's own size estimate counts 20 B a string. The writer
    sizes by the rows' real bytes instead: 2,000 rows of 5,000
    characters (about 10 MB) at a 3 MiB target are 4 tasks and 4
    files, not one file of every row."""
    leaf_parallelism(8)
    monkeypatch.setattr(W, "_TARGET_FILE_SIZE", 3 * 1024 * 1024)
    wide = pd.DataFrame({"k": range(2000), "v": [f"{i:05d}" + "x" * 4995 for i in range(2000)]})
    batch = spark.createDataFrame(wide)
    assert batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes() < 3 * 1024 * 1024
    t = IcebergTable.create(spark, str(tmp_path / "t"), batch)
    data, _ = _files(t)
    assert len(data) == 4 and sum(e.record_count for e in data) == 2000
    # never more tasks than the frame had
    leaf_parallelism(2)
    t.append(spark.createDataFrame(wide))
    assert len(_files(t)[0]) == 4 + 2


def test_explicit_layouts_keep_their_files(spark, tmp_path, leaf_parallelism):
    leaf_parallelism(4)
    t = IcebergTable.create(spark, str(tmp_path / "range"), spark.range(0, 80, 1, 8).selectExpr("id AS k"))
    assert len(_files(t)[0]) == 8
    ranged = spark.createDataFrame(_batch(600)).repartitionByRange(3, "k")
    t = IcebergTable.create(spark, str(tmp_path / "ranged"), ranged)
    assert len(_files(t)[0]) == 3


def test_partitioned_batch_splits_by_partition_value(spark, tmp_path, leaf_parallelism):
    leaf_parallelism(4)
    t = IcebergTable.create(spark, str(tmp_path / "t"), spark.createDataFrame(_batch(600)), partition_by=["p"])
    data, _ = _files(t)
    assert sorted((e.partition["p"], e.record_count) for e in data) == [(0, 200), (1, 200), (2, 200)]


def test_unknown_codec_raises_before_any_write(spark, tmp_path):
    path = str(tmp_path / "t")
    props = {"write.parquet.compression-codec": "lzma"}
    with pytest.raises(ValueError, match="write.parquet.compression-codec"):
        IcebergTable.create(spark, path, spark.createDataFrame(_batch(10)), properties=props)
    assert not os.path.exists(path)
    gzip = {"write.parquet.compression-codec": "gzip"}
    t = IcebergTable.create(spark, path, spark.createDataFrame(_batch(10)), properties=gzip)
    assert pq.ParquetFile(_files(t)[0][0].file_path).metadata.row_group(0).column(0).compression == "GZIP"
    before = t.meta.metadata_path
    with pytest.raises(ValueError, match="lzma"):
        t.set_properties(props)
    assert IcebergTable(spark, path).meta.metadata_path == before


def test_table_without_codec_property_writes_zstd(spark, tmp_path):
    path = str(tmp_path / "t")
    t = IcebergTable.create(spark, path, spark.createDataFrame(_batch(10)))
    t.remove_properties(["write.parquet.compression-codec"])
    t.append(spark.createDataFrame(_batch(10, 10)))
    codecs = [pq.ParquetFile(e.file_path).metadata.row_group(0).column(0).compression for e in _files(t)[0]]
    assert codecs == ["ZSTD", "ZSTD"]


def test_timestamp_where_prunes_on_int64_bounds(spark, tmp_path, caplog):
    """Timestamps are written as INT64 micros, so each file records
    timestamp bounds and a timestamp ``where=`` builds its parquet
    relation over the one file that can match."""
    path = str(tmp_path / "t")
    df = spark.range(0, 2, 1, 2).selectExpr("id AS k", "timestamp_seconds(1704067200 + id * 86400) AS ts")
    t = IcebergTable.create(spark, path, df)
    data, _ = _files(t)
    assert len(data) == 2
    SRC._READ_CACHE.clear()
    caplog.set_level(logging.DEBUG, logger="duckdb_iceberg_spark")
    rows = t.scan(where="ts < TIMESTAMP '2024-01-01 12:00:00 UTC'").collect()
    assert [r.k for r in rows] == [0]
    assert [r.files for r in caplog.records if hasattr(r, "listed")] == [1]


def test_extreme_timestamps_round_trip(spark, tmp_path):
    """The writer stores INT64 micros whatever the session's
    ``outputTimestampType``, and leaves that setting as it found it."""
    key = "spark.sql.parquet.outputTimestampType"
    session = spark.conf.get(key)
    spark.conf.set(key, "INT96")
    try:
        df = spark.sql(
            "SELECT * FROM VALUES (1, TIMESTAMP '0001-01-01 00:00:00 UTC'), "
            "(2, TIMESTAMP '9999-12-31 23:59:59.999999 UTC'), (3, TIMESTAMP '1582-10-10 00:00:00 UTC') AS t(k, ts)"
        )
        t = IcebergTable.create(spark, str(tmp_path / "t"), df)
        assert spark.conf.get(key) == "INT96"
    finally:
        spark.conf.set(key, session)
    want = sorted(map(tuple, df.selectExpr("k", "unix_micros(ts)").collect()))
    assert sorted(map(tuple, t.scan().selectExpr("k", "unix_micros(ts)").collect())) == want
    (f,) = _files(t)[0]
    col = pq.ParquetFile(f.file_path).schema.column(1)
    assert col.physical_type == "INT64" and "microseconds" in col.logical_type.to_json()
    raw = pq.read_table(f.file_path).cast(pa.schema([("k", pa.int32()), ("ts", pa.int64())]))
    assert sorted(zip(*raw.to_pydict().values())) == want


def test_manifest_header_carries_partition_spec(spark, tmp_path):
    df = spark.range(0, 4, 1, 2).selectExpr("id AS k", "timestamp_seconds(1704067200 + id * 86400) AS ts")
    t = IcebergTable.create(spark, str(tmp_path / "t"), df, partition_by=[("days", "ts")])
    (ml,) = t._current_manifests()
    meta, _ = read_avro_file(ml["manifest_path"])
    ts_id = next(c.field_id for c in t.schema.columns if c.name == "ts")
    assert json.loads(meta["partition-spec"]) == [
        {"name": "ts_day", "transform": "day", "source-id": ts_id, "field-id": 1000}
    ]
    assert meta["partition-spec-id"] == b"0"
    assert t.meta.raw["partition-specs"] == [{"spec-id": 0, "fields": json.loads(meta["partition-spec"])}]
