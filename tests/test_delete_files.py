"""Which delete files apply to which data file (`DeleteFileIndex`), and
the rows both read paths keep, in place and moved.

The unit and property tests build synthetic manifest entries; the
Spark tests write tables with this engine and compare every io path,
in place and moved to a fresh root, with the in-place ``io="spark"``
scan."""

import logging
import os
import time

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from duckdb_iceberg_spark import iceberg_scan
from duckdb_iceberg_spark.plans.manifests import DeleteFileIndex, EntryStatus, FileContent, ManifestEntry

POS, EQ, DATA = FileContent.POSITION_DELETES, FileContent.EQUALITY_DELETES, FileContent.DATA
PATH_ID = 2147483546


def _entry(content, path, seq, status=EntryStatus.ADDED, **kw):
    return ManifestEntry(status, content, path, "PARQUET", 1, sequence_number=seq, raw_file_path=path, **kw)


def _dv(ref, seq, **kw):
    return _entry(POS, "/t/data/d.puffin", seq, referenced_data_file=ref, content_offset=4, content_size=10, **kw)


def _bounded(path, seq, lo, hi):
    return _entry(POS, path, seq, lower_bounds={PATH_ID: lo.encode()}, upper_bounds={PATH_ID: hi.encode()})


def test_sequence_rules():
    """Position deletes apply at the data file's sequence number or
    later, equality deletes only strictly later."""
    data = _entry(DATA, "/t/data/a.parquet", 2)
    pos = [_entry(POS, f"/t/data/p{s}.parquet", s) for s in (1, 2, 3)]
    eq = [_entry(EQ, f"/t/data/e{s}.parquet", s) for s in (1, 2, 3)]
    got = DeleteFileIndex([data, *pos, *eq]).for_file(data)
    assert got == (pos[1:], [], eq[2:])


def test_scoping_by_reference_and_bounds():
    """A DV or a referencing position file applies to its file only, a
    bounded one to the stored paths within its bounds; DELETED entries
    never apply."""
    a, b, c = (_entry(DATA, f"/t/data/{n}/x.parquet", 1) for n in "abc")
    ref = _entry(POS, "/t/data/r.parquet", 2, referenced_data_file=a.file_path)
    dv = _dv(b.file_path, 2)
    bounded = _bounded("/t/data/q.parquet", 2, "file:///t/data/b/", "/t/data/b/z")
    gone = _entry(POS, "/t/data/g.parquet", 2, status=EntryStatus.DELETED)
    index = DeleteFileIndex([a, b, c, ref, dv, bounded, gone])
    assert index.for_file(a) == ([ref], [], [])
    assert index.for_file(b) == ([bounded], [dv], [])
    assert index.for_file(c) == ([], [], [])
    assert index.for_files([a, b, c]) == ([ref, bounded], [dv], [])
    assert index.for_files([c]) == ([], [], [])


def test_dv_without_size_raises():
    dv = _dv("/t/data/a.parquet", 1)
    dv.content_size = None
    with pytest.raises(ValueError, match="content_size_in_bytes"):
        DeleteFileIndex([dv])


_paths = st.sampled_from([f"/t/data/{d}/{f}.parquet" for d in "ab" for f in "xyz"])
_seqs = st.integers(1, 4)
_deletes = st.one_of(
    st.builds(lambda p, s: _entry(POS, "/t/data/p.parquet", s), _paths, _seqs),
    st.builds(lambda p, s: _entry(EQ, "/t/data/e.parquet", s), _paths, _seqs),
    st.builds(lambda p, s: _entry(POS, "/t/data/r.parquet", s, referenced_data_file=p), _paths, _seqs),
    st.builds(_dv, _paths, _seqs),
    st.builds(lambda p, q, s: _bounded("/t/data/b.parquet", s, *sorted((p, q))), _paths, _paths, _seqs),
    st.builds(lambda p, s: _entry(POS, "/t/data/g.parquet", s, status=EntryStatus.DELETED), _paths, _seqs),
)


@settings(max_examples=300, deadline=None, derandomize=True, database=None)
@given(st.dictionaries(_paths, _seqs, min_size=1), st.lists(_deletes, max_size=12))
def test_for_files_is_union_of_for_file(data, deletes):
    """``for_files`` lists each delete file that applies to some data
    file once, in manifest order: the union of ``for_file``."""
    files = [_entry(DATA, p, s) for p, s in data.items()]
    index = DeleteFileIndex(files + deletes)
    for kind, got in enumerate(index.for_files(files)):
        hits = {id(d) for f in files for d in index.for_file(f)[kind]}
        assert [id(d) for d in got] == [id(d) for d in deletes if id(d) in hits]


def test_for_files_is_linear():
    """10k data files and 1k delete files of every kind plan in well
    under a second (a loop over the pairs takes seconds)."""
    data = [_entry(DATA, f"/t/data/{i:05d}.parquet", 1 + i % 50) for i in range(10_000)]
    deletes = [_entry(POS, f"/t/data/p{i}.parquet", i % 60) for i in range(300)]
    deletes += [_dv(f"/t/data/{7 * i:05d}.parquet", i % 60) for i in range(300)]
    deletes += [_bounded(f"/t/data/b{i}.parquet", i % 60, f"/t/data/{i:05d}", f"/t/data/{i + 20:05d}") for i in range(300)]
    deletes += [_entry(EQ, f"/t/data/e{i}.parquet", i % 60) for i in range(100)]
    start = time.perf_counter()
    pos, dvs, eqs = DeleteFileIndex(data + deletes).for_files(data)
    assert time.perf_counter() - start < 1.0
    assert pos and dvs and len(eqs) == 96  # equality: sequence numbers 2-59 and 62-99


def _kinds(spark, root):
    """One table per delete kind: v2 position deletes, v3 deletion
    vectors and equality deletes, each over four files of 50 keys."""
    from duckdb_iceberg_spark.writer import IcebergTable

    src = spark.createDataFrame([(i, i % 7) for i in range(200)], "k long, g long").repartitionByRange(4, "k")
    v2 = IcebergTable.create(spark, f"{root}/v2", src)
    v2.delete_where("k % 5 = 0")
    v3 = IcebergTable.create(spark, f"{root}/v3", src, format_version=3)
    v3.delete_where("k % 5 = 0")
    IcebergTable(spark, f"{root}/v3").delete_where("k IN (11, 121)")
    eq = IcebergTable.create(spark, f"{root}/eq", src)
    eq.delete_where_equality(spark.createDataFrame([(3,), (10,), (160,)], "k long"))
    IcebergTable(spark, f"{root}/eq").append(src.filter("k = 10"))
    return {"v2": 160, "v3": 158, "eq": 198}


@pytest.fixture(scope="module")
def delete_tables(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("deletes"))
    return root, _kinds(spark, root)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.mark.parametrize("kind", ["v2", "v3", "eq"])
def test_delete_application_in_place_and_moved(spark, delete_tables, moved_table, kind):
    """Both io paths, in place and moved to a fresh root, with and
    without ``where=``, keep the rows the in-place Spark scan keeps."""
    root, live = delete_tables
    path = f"{root}/{kind}"
    wheres = (None, "k < 60")
    want = {w: _rows(iceberg_scan(spark, path, where=w)) for w in wheres}
    assert len(want[None]) == live[kind]
    for w in wheres:
        assert _rows(iceberg_scan(spark, path, where=w, io="arrow")) == want[w], w
    moved = moved_table(path)
    for io in ("spark", "arrow"):
        for w in wheres:
            assert _rows(iceberg_scan(spark, moved, allow_moved_paths=True, where=w, io=io)) == want[w], (io, w)


def test_moved_table_matches_stored_path_not_file_name(spark, tmp_path, moved_table):
    """Two data files share a name in different directories. A delete
    of one row of ``a/x.parquet`` stays there after the table moves: a
    match on the file name alone would also drop the row at the same
    position of ``b/x.parquet``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_iceberg_spark.writer import IcebergTable

    path = str(tmp_path / "t")
    t = IcebergTable.create(spark, path, spark.createDataFrame([], "k long"))
    schema = pa.schema([pa.field("k", pa.int64(), metadata={b"PARQUET:field_id": b"1"})])
    files = []
    for sub, base in (("a", 0), ("b", 100)):
        os.makedirs(f"{path}/data/{sub}")
        files.append(f"{path}/data/{sub}/x.parquet")
        pq.write_table(pa.table({"k": list(range(base, base + 10))}, schema=schema), files[-1])
    t.add_files(files)
    IcebergTable(spark, path).delete_where("k = 3")
    want = sorted({*range(10), *range(100, 110)} - {3})
    moved = moved_table(path)
    for io in ("spark", "arrow"):
        assert [k for k, in _rows(iceberg_scan(spark, moved, allow_moved_paths=True, io=io))] == want, io


def _four_file_v3(spark, path, format_version=3, deleted="k % 3 = 0"):
    """A v3 table of four data files holding keys 0-9, 10-19, 20-29 and
    30-39, with deletion vectors on each (with ``format_version=2``,
    position-delete files)."""
    from duckdb_iceberg_spark.writer import IcebergTable

    t = IcebergTable.create(
        spark, path, spark.range(0, 10).selectExpr("id AS k").coalesce(1), format_version=format_version
    )
    for lo in (10, 20, 30):
        IcebergTable(spark, path).append(spark.range(lo, lo + 10).selectExpr("id AS k").coalesce(1))
    IcebergTable(spark, path).delete_where(deleted)
    return t


def test_where_scan_reads_only_surviving_files_dvs(spark, tmp_path, caplog):
    """A ``where=`` scan that prunes to one data file applies, and
    reports, only that file's deletion vector."""
    path = str(tmp_path / "t")
    _four_file_v3(spark, path)
    caplog.set_level(logging.DEBUG, logger="duckdb_iceberg_spark")
    df = iceberg_scan(spark, path, where="k < 10")
    (e,) = [r for r in caplog.records if hasattr(r, "deletion_vectors")]
    assert (e.data_files, e.deletion_vectors, e.deleted_rows) == (1, 1, 4)
    assert [k for k, in _rows(df)] == [1, 2, 4, 5, 7, 8]


def test_changelog_scans_only_files_a_changed_delete_touches(spark, tmp_path, monkeypatch):
    """After a delete of one row of one file of a v3 table, the
    changelog reads that common file on each side, not all four."""
    from duckdb_iceberg_spark.writer import IcebergTable

    path = str(tmp_path / "t")
    _four_file_v3(spark, path)
    t = IcebergTable(spark, path)
    before = t.meta.latest_snapshot().snapshot_id
    t.delete_where("k = 11")
    t = IcebergTable(spark, path)
    scanned = []
    scan_files = IcebergTable._scan_files

    def spy(self, snapshot_id, entries):
        scanned.append(len(entries))
        return scan_files(self, snapshot_id, entries)

    monkeypatch.setattr(IcebergTable, "_scan_files", spy)
    rows = t.scan_changelog(before).collect()
    assert scanned == [1, 1]
    assert [(r.change_type, r.k) for r in rows] == [("delete", 11)]


def _position_delete_events(caplog, df):
    rows = _rows(df)
    return [r.position_delete_files for r in caplog.records if hasattr(r, "position_delete_files")], rows


def test_v2_where_scan_reads_no_delete_file_of_an_untouched_file(spark, tmp_path, caplog):
    """v2 position-delete files carry ``file_path`` bounds, so a
    ``where=`` scan that prunes to a file no delete touched reads no
    position-delete file, and one that keeps the touched file reads it."""
    path = str(tmp_path / "t")
    _four_file_v3(spark, path, format_version=2, deleted="k >= 30 AND k % 3 = 0")
    caplog.set_level(logging.DEBUG, logger="duckdb_iceberg_spark")
    events, rows = _position_delete_events(caplog, iceberg_scan(spark, path, where="k < 10"))
    assert (events, [k for k, in rows]) == ([], list(range(10)))
    caplog.clear()
    events, rows = _position_delete_events(caplog, iceberg_scan(spark, path, where="k >= 30"))
    assert (events, [k for k, in rows]) == ([1], [31, 32, 34, 35, 37, 38])


def test_v2_changelog_scans_only_the_file_a_delete_touches(spark, tmp_path, monkeypatch):
    """After a v2 delete of one row of one file, the changelog reads that
    common file on each side, not all four."""
    from duckdb_iceberg_spark.writer import IcebergTable

    path = str(tmp_path / "t")
    _four_file_v3(spark, path, format_version=2)
    t = IcebergTable(spark, path)
    before = t.meta.latest_snapshot().snapshot_id
    t.delete_where("k = 11")
    t = IcebergTable(spark, path)
    scanned = []
    scan_files = IcebergTable._scan_files

    def spy(self, snapshot_id, entries):
        scanned.append(len(entries))
        return scan_files(self, snapshot_id, entries)

    monkeypatch.setattr(IcebergTable, "_scan_files", spy)
    rows = t.scan_changelog(before).collect()
    assert scanned == [1, 1]
    assert [(r.change_type, r.k) for r in rows] == [("delete", 11)]


def test_position_delete_stats_never_land_on_a_table_column(spark, tmp_path):
    """A table with columns named ``pos`` and ``file_path``: its
    position-delete file records bounds under the reserved ids only,
    and its ``file_path`` bounds name the data file it deletes from."""
    from duckdb_iceberg_spark.plans.manifests import load_table_scan
    from duckdb_iceberg_spark.writer import IcebergTable

    path = str(tmp_path / "t")
    src = spark.createDataFrame([(i, f"f{i}") for i in range(10)], "pos long, file_path string").coalesce(1)
    t = IcebergTable.create(spark, path, src)
    IcebergTable(spark, path).delete_where("pos = 3")
    t = IcebergTable(spark, path)
    scan = load_table_scan(t.meta, t.meta.latest_snapshot(), path, False)
    (d,) = scan.positional_delete_files()
    (data,) = scan.data_files()
    reserved = {PATH_ID, PATH_ID - 1}
    assert set(d.lower_bounds) == set(d.upper_bounds) == reserved
    assert not {c.field_id for c in t.schema.columns} & reserved
    assert d.lower_bounds[PATH_ID].decode() == d.upper_bounds[PATH_ID].decode() == data.raw_file_path
    assert sorted(p for p, _ in _rows(iceberg_scan(spark, path))) == [0, 1, 2, 4, 5, 6, 7, 8, 9]
