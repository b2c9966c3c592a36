"""The per-file metadata cache of `load_table_scan` and the driver-held
frames of `_local_df`.

Decode counts are read from the one DEBUG "scan planning" event each
manifest walk logs: ``manifests`` in the snapshot, files ``decoded``
(the manifest list included), files served from the cache (``cached``)
and ``entries``."""

import datetime
import json
import logging
import os
import shutil
import time

import pyarrow as pa
import pytest

from duckdb_iceberg_spark import iceberg_scan
from duckdb_iceberg_spark.plans import manifests as M
from duckdb_iceberg_spark.plans.avro import read_avro_file, write_avro_file
from duckdb_iceberg_spark.plans.table_metadata import IcebergSnapshot, load_table_metadata
from duckdb_iceberg_spark.sources import iceberg as S
from duckdb_iceberg_spark.writer import IcebergTable


def _planning(caplog, read):
    """The scan-planning event of the one walk ``read()`` makes."""
    caplog.set_level(logging.DEBUG, logger="duckdb_iceberg_spark")
    caplog.clear()
    read()
    (e,) = [r for r in caplog.records if r.name == "duckdb_iceberg_spark" and hasattr(r, "decoded")]
    return e


def _table(spark, path, parts=3, **kw):
    """A table of ``parts`` commits of 10 keys each: one manifest per commit."""
    t = IcebergTable.create(spark, path, spark.range(0, 10).selectExpr("id AS k").coalesce(1), **kw)
    for lo in range(10, 10 * parts, 10):
        IcebergTable(spark, path).append(spark.range(lo, lo + 10).selectExpr("id AS k").coalesce(1))
    return t


def _walk(path, snapshot=None, moved=False):
    meta = load_table_metadata(path)
    return M.load_table_scan(meta, snapshot or meta.latest_snapshot(), path, moved)


def test_repeated_scan_decodes_nothing(spark, tmp_path, caplog):
    path = str(tmp_path / "t")
    _table(spark, path)
    M._METADATA_CACHE.clear()
    first = _planning(caplog, lambda: iceberg_scan(spark, path))
    assert (first.manifests, first.decoded, first.cached, first.entries) == (3, 4, 0, 3)
    again = _planning(caplog, lambda: iceberg_scan(spark, path))
    assert (again.decoded, again.cached, again.entries) == (0, 4, 3)


def test_read_after_append_decodes_the_list_and_one_manifest(spark, tmp_path, caplog):
    path = str(tmp_path / "t")
    _table(spark, path)
    iceberg_scan(spark, path)
    IcebergTable(spark, path).append(spark.range(100, 110).selectExpr("id AS k").coalesce(1))
    e = _planning(caplog, lambda: iceberg_scan(spark, path))
    assert (e.manifests, e.decoded, e.cached) == (4, 2, 3)
    assert iceberg_scan(spark, path).count() == 40


def test_time_travel_after_latest_read_decodes_one_list(spark, tmp_path, caplog):
    path = str(tmp_path / "t")
    _table(spark, path)
    first = load_table_metadata(path).raw["snapshots"][0]["snapshot-id"]
    M._METADATA_CACHE.clear()
    iceberg_scan(spark, path)
    e = _planning(caplog, lambda: iceberg_scan(spark, path, snapshot_id=first))
    assert (e.manifests, e.decoded, e.cached) == (1, 1, 1)
    assert iceberg_scan(spark, path, snapshot_id=first).count() == 10


def test_memory_fs_table_caches_like_a_local_one(spark, tmp_path, caplog):
    from duckdb_iceberg_spark.plans.fs import MemoryFS

    MemoryFS.clear()
    path = "memory://tables/metadata_cache"
    IcebergTable.create(spark, path, spark.range(0).selectExpr("id AS k"))
    files = []
    for i in range(2):
        spark.range(10 * i, 10 * i + 10).selectExpr("id AS k").coalesce(1).write.parquet(str(tmp_path / f"d{i}"))
        files.append([str(p) for p in (tmp_path / f"d{i}").glob("*.parquet")])
    IcebergTable(spark, path).add_files(files[0])
    M._METADATA_CACHE.clear()
    counts = [_planning(caplog, lambda: iceberg_scan(spark, path)).decoded for _ in range(2)]
    IcebergTable(spark, path).add_files(files[1])
    counts.append(_planning(caplog, lambda: iceberg_scan(spark, path)).decoded)
    assert counts == [2, 0, 2]
    assert iceberg_scan(spark, path).count() == 20
    MemoryFS.clear()


def test_changed_manifest_length_redecodes(spark, tmp_path, caplog):
    """A manifest list that names a cached manifest path with another
    ``manifest_length`` gets a fresh decode, not the cached entries."""
    path = str(tmp_path / "t")
    _table(spark, path, parts=1)
    meta = load_table_metadata(path)
    snap = meta.latest_snapshot()
    _walk(path)
    lmeta, records = read_avro_file(snap.manifest_list)
    (record,) = records
    mmeta, entries = read_avro_file(record["manifest_path"])
    # the same path rewritten with one more entry: a longer file
    entries.append(entries[0] | {"data_file": entries[0]["data_file"] | {"file_path": entries[0]["data_file"]["file_path"] + ".copy"}})
    record["manifest_length"] = _rewrite(record["manifest_path"], mmeta, entries)
    relisted = os.path.join(path, "metadata", "relisted.avro")
    _rewrite(relisted, lmeta, [record])
    other = IcebergSnapshot(**{**snap.__dict__, "manifest_list": relisted})
    e = _planning(caplog, lambda: _walk(path, other))
    assert (e.decoded, e.entries) == (2, 2)
    assert len(_walk(path).data_files()) == 1  # the first list's record keeps its entries


def _rewrite(path, avro_meta, records) -> int:
    """Write ``records`` to ``path`` as the file ``avro_meta`` came from; its length."""
    return write_avro_file(
        path,
        json.loads(avro_meta["avro.schema"]),
        records,
        metadata={k: v.decode() for k, v in avro_meta.items() if not k.startswith("avro.")},
    )


def test_in_place_and_moved_reads_do_not_share_entries(spark, tmp_path, caplog):
    path = str(tmp_path / "t")
    _table(spark, path)
    moved = str(tmp_path / "copy")
    shutil.copytree(path, moved)
    in_place = _walk(path)
    e = _planning(caplog, lambda: _walk(moved, moved=True))
    assert (e.decoded, e.cached) == (4, 0)
    assert all(f.file_path.startswith(moved + "/") for f in _walk(moved, moved=True).data_files())
    assert all(f.file_path.startswith(path + "/") for f in _walk(path).data_files())
    assert _planning(caplog, lambda: _walk(path)).decoded == 0
    assert sorted(iceberg_scan(spark, moved, allow_moved_paths=True).collect()) == sorted(
        iceberg_scan(spark, path).collect()
    )
    assert [f.file_path for f in in_place.data_files()] == [f.file_path for f in _walk(path).data_files()]


def test_v3_row_ids_inherited_from_cached_manifests(spark, tmp_path):
    """Data files without a per-file first_row_id inherit row ids from
    their list record's first_row_id: the same ids whether a walk
    decodes the manifests or takes them cached, for the latest snapshot
    and for an older one that shares its manifests."""
    path = str(tmp_path / "t")
    _table(spark, path, format_version=3)
    meta = load_table_metadata(path)
    want = sorted(f.first_row_id for f in _walk(path).data_files())
    assert want == [0, 10, 20]
    for record in read_avro_file(meta.latest_snapshot().manifest_list)[1]:
        mmeta, entries = read_avro_file(record["manifest_path"])
        for e in entries:
            e["data_file"]["first_row_id"] = None  # foreign-writer style
        _rewrite(record["manifest_path"], mmeta, entries)
    M._METADATA_CACHE.clear()
    decoded = [(f.file_path, f.first_row_id) for f in _walk(path).data_files()]
    cached = [(f.file_path, f.first_row_id) for f in _walk(path).data_files()]
    assert decoded == cached and sorted(r for _, r in decoded) == want
    older = [(f.file_path, f.first_row_id) for f in _walk(path, meta.snapshot_by_id(meta.raw["snapshots"][1]["snapshot-id"])).data_files()]
    assert set(older) < set(decoded)
    rows = sorted(r._row_id for r in iceberg_scan(spark, path, row_lineage=True).collect())
    assert rows == list(range(30))


def test_eviction_keeps_the_cache_within_its_bound(spark, tmp_path, monkeypatch, caplog):
    path = str(tmp_path / "t")
    _table(spark, path, parts=4)
    monkeypatch.setattr(M, "_METADATA_CACHE_MAX_ENTRIES", 3)
    M._METADATA_CACHE.clear()
    for _ in range(2):
        assert iceberg_scan(spark, path).count() == 40
        assert M._METADATA_CACHE.entries <= 3
    # a walk larger than the bound is decoded again, and still whole
    e = _planning(caplog, lambda: _walk(path))
    assert (e.manifests, e.entries) == (4, 4) and e.decoded > 0
    M._METADATA_CACHE.clear()


def test_cache_weight_survives_concurrent_walks(monkeypatch):
    """Threads putting and reading overlapping keys leave the entry
    count equal to the sum of the weights held, within the bound."""
    import sys
    import threading

    monkeypatch.setattr(M, "_METADATA_CACHE_MAX_ENTRIES", 50)
    cache = M._MetadataCache()

    def work(seed):
        for i in range(2000):
            k = (seed * 7 + i) % 40
            if cache.get(k) is None:
                cache.put(k, [k] * (k % 5), k % 5)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=work, args=(n,)) for n in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert cache.entries == sum(w for w, _ in cache._items.values()) <= 50


# -- _local_df ----------------------------------------------------------------


@pytest.fixture
def new_york(monkeypatch):
    """The Python process in America/New_York: a naive datetime means a
    different instant there than in UTC."""
    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


def _parent_local_df(spark, rows, schema):
    """The frame createDataFrame builds from the same Arrow table: the
    path `_local_df` took before it sent the IPC stream itself."""
    from pyspark.sql.pandas.types import to_arrow_schema

    arrow_schema = to_arrow_schema(schema)
    columns = zip(*rows) if rows else [()] * len(arrow_schema)
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)], schema=arrow_schema)
    return spark.createDataFrame(table, schema)


def test_local_df_matches_the_create_data_frame_path(spark, tmp_path, monkeypatch, new_york):
    """Every listing schema (snapshots, history, partitions with a
    map<string,string>, metadata, list_files) and the empty relations
    ``where=`` builds give the rows and the schema createDataFrame gives
    for the same input, as a LocalRelation."""
    path = str(tmp_path / "t")
    src = spark.createDataFrame([(i, i % 3, datetime.datetime(2024, 3, 10, 1 + i % 4, 30)) for i in range(12)],
                                "k long, g long, ts timestamp")
    IcebergTable.create(spark, path, src, partition_by=["g"])
    IcebergTable(spark, path).delete_where("k = 4")
    seen = []
    local_df = S._local_df

    def spy(spark_, rows, schema):
        df = local_df(spark_, rows, schema)
        seen.append((rows, df))
        return df

    monkeypatch.setattr(S, "_local_df", spy)
    monkeypatch.setattr(S, "_READ_CACHE", {})
    S.iceberg_snapshots(spark, path)
    S.iceberg_history(spark, path)
    S.iceberg_partitions(spark, path)
    S.iceberg_metadata(spark, path)
    iceberg_scan(spark, path, mode="list_files")
    iceberg_scan(spark, path, where="ts < '2024-03-10 03:00:00'")
    iceberg_scan(spark, path, where="k = 1", time_as_string=True)
    assert len(seen) == 7
    assert any("map<string,string>" in df.schema.simpleString() for _, df in seen)
    assert any(not rows for rows, _ in seen)
    for rows, df in seen:
        want = _parent_local_df(spark, rows, df.schema)
        assert df.schema == want.schema
        assert df.collect() == want.collect()
        assert df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName() == "LocalRelation"
    snaps = {r.snapshot_id: r.timestamp_ms for r in seen[0][1].collect()}
    raw = {s["snapshot-id"]: s["timestamp-ms"] for s in load_table_metadata(path).raw["snapshots"]}
    got = {k: int(v.timestamp() * 1000) for k, v in snaps.items()}
    assert got == raw


def test_local_df_makes_four_py4j_calls(spark):
    import py4j.clientserver as cs

    rows = [(i, f"s{i}", {"a": str(i)}) for i in range(200)]
    ddl = "k long, s string, m map<string,string>"
    S._local_df(spark, rows, ddl)  # the per-context JVM handles
    calls = []
    send = cs.ClientServerConnection.send_command
    cs.ClientServerConnection.send_command = lambda self, *a, **k: calls.append(1) or send(self, *a, **k)
    try:
        df = S._local_df(spark, rows, ddl)
    finally:
        cs.ClientServerConnection.send_command = send
    assert len(calls) <= 4
    assert df.count() == 200
