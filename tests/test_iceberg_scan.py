"""End-to-end iceberg_scan/snapshots/metadata tests vs the reference's
golden values (reference test/sql/iceberg_scan.test and
iceberg_scan_generated_data_0_001.test)."""

import datetime
import os

import pytest
from conftest import REFERENCE_DATA, requires_reference
from pyspark.sql import functions as F

from duckdb_iceberg_spark import iceberg_metadata, iceberg_scan, iceberg_snapshots

BASE = REFERENCE_DATA
LI = f"{BASE}/lineitem_iceberg"


@requires_reference
def test_scan_latest_count(spark):
    assert iceberg_scan(spark, LI, allow_moved_paths=True).count() == 51793


@requires_reference
def test_scan_snapshot_id(spark):
    df = iceberg_scan(spark, LI, snapshot_id=3776207205136740581, allow_moved_paths=True)
    assert df.count() == 60175


@requires_reference
def test_scan_version_param(spark):
    assert iceberg_scan(spark, LI, version="1", allow_moved_paths=True).count() == 60175


@requires_reference
def test_scan_timestamp(spark):
    df = iceberg_scan(spark, LI, timestamp=datetime.datetime(2023, 2, 15, 15, 8, 0), allow_moved_paths=True)
    assert df.count() == 60175
    # verbatim reference message (iceberg_scan.test:62)
    with pytest.raises(ValueError, match="Could not find latest snapshots for timestamp 2000-01-01 00:00:00"):
        iceberg_scan(spark, LI, timestamp=datetime.datetime(2000, 1, 1), allow_moved_paths=True)


@requires_reference
def test_scan_gz_metadata(spark):
    df = iceberg_scan(spark, f"{BASE}/lineitem_iceberg_gz", metadata_compression_codec="gzip", allow_moved_paths=True)
    assert df.count() == 111968


@requires_reference
def test_scan_pushdown_reaches_parquet(spark):
    """Filters and projection must reach the parquet scan (100 TB
    requirement: file-skipping + column pruning)."""
    df = iceberg_scan(spark, LI, allow_moved_paths=True)
    plan = df.filter(F.col("l_orderkey") == 5).select("l_orderkey", "l_quantity")._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,5)]" in plan or "EqualTo(l_orderkey,5)" in plan
    assert "ReadSchema" in plan


@requires_reference
def test_snapshots_listing(spark):
    rows = iceberg_snapshots(spark, LI).orderBy("sequence_number").collect()
    assert [(r.sequence_number, r.snapshot_id) for r in rows] == [
        (1, 3776207205136740581),
        (2, 7635660646343998149),
    ]
    assert str(rows[0].timestamp_ms).startswith("2023-02-15 15:07:54.504")


@requires_reference
def test_metadata_listing(spark):
    rows = iceberg_metadata(spark, LI, allow_moved_paths=True).collect()
    got = {(r.manifest_sequence_number, r.manifest_content, r.status, r.content, r.record_count) for r in rows}
    assert got == {
        (2, "DATA", "ADDED", "EXISTING", 51793),
        (2, "DATA", "DELETED", "EXISTING", 60175),
    }
    assert all(r.file_path.startswith("lineitem_iceberg/data/") for r in rows)


@requires_reference
def test_list_files_mode(spark):
    rows = iceberg_scan(spark, f"{BASE}/generated_spec2_0_001/pyspark_iceberg_table", mode="list_files", allow_moved_paths=True).collect()
    types = {r.type for r in rows}
    assert types == {"data", "delete"}


@requires_reference
@pytest.mark.parametrize("spec,final_rows", [("generated_spec1_0_001", 7690), ("generated_spec2_0_001", 6592)])
def test_generated_full_table_equality(spark, spec, final_rows):
    """The reference's core correctness engine (SURVEY §5 layer 2):
    ICEBERG_SCAN(table) ≡ expected parquet, full data, order-insensitive."""
    ours = iceberg_scan(spark, f"{BASE}/{spec}/pyspark_iceberg_table", allow_moved_paths=True)
    exp = spark.read.parquet(f"{BASE}/{spec}/expected_results/last/data")
    assert ours.count() == exp.count() == final_rows
    cols = sorted(ours.columns)
    assert sorted(exp.columns) == cols
    assert ours.select(cols).exceptAll(exp.select(cols)).count() == 0
    assert exp.select(cols).exceptAll(ours.select(cols)).count() == 0


@requires_reference
def test_schema_evolution_time_travel(spark):
    t = f"{BASE}/generated_spec2_0_001/pyspark_iceberg_table"
    latest = iceberg_scan(spark, t, allow_moved_paths=True)
    assert dict((f.name, f.dataType.simpleString()) for f in latest.schema.fields)["schema_evol_added_col_1"] == "bigint"
    v8 = iceberg_scan(spark, f"{t}/metadata/v8.metadata.json", allow_moved_paths=True)
    assert dict((f.name, f.dataType.simpleString()) for f in v8.schema.fields)["schema_evol_added_col_1"] == "int"
    v6 = iceberg_scan(spark, f"{t}/metadata/v6.metadata.json", allow_moved_paths=True)
    assert "schema_evol_added_col_1" not in v6.columns


@requires_reference
def test_mor_plan_shape(spark):
    """Plan-shape parity with the reference's EXPLAIN assertion
    (ANTI join; deletes side broadcast so no shuffle on the big side)."""
    df = iceberg_scan(spark, f"{BASE}/generated_spec2_0_001/pyspark_iceberg_table", allow_moved_paths=True)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftAnti" in plan
    assert "Broadcast" in plan


@requires_reference
def test_history_ancestry(spark):
    """history(): parent links follow the snapshot chain and every
    logged snapshot on the linear chain is a current ancestor."""
    from duckdb_iceberg_spark import iceberg_history

    df = iceberg_history(spark, f"{BASE}/generated_spec2_0_001/pyspark_iceberg_table")
    rows = sorted(df.collect(), key=lambda r: r.made_current_at)
    assert len(rows) >= 2
    assert rows[0].parent_id is None
    for prev, cur in zip(rows, rows[1:]):
        assert cur.parent_id == prev.snapshot_id
    assert all(r.is_current_ancestor for r in rows)


@requires_reference
def test_register_sql_views_family(spark):
    """SQL-first parity: the whole reference query surface through
    spark.sql against registered views, golden counts intact."""
    from duckdb_iceberg_spark import register_sql_views

    path = LI
    names = register_sql_views(spark, path, "li", allow_moved_paths=True)
    assert set(names) == {"li", "li_snapshots", "li_metadata", "li_history", "li_partitions", "li_files"}
    assert spark.sql("SELECT COUNT(*) AS n FROM li").first().n == 51793
    assert spark.sql("SELECT COUNT(*) AS n FROM li_snapshots").first().n == 2
    assert spark.sql("SELECT COUNT(*) AS n FROM li_files WHERE type = 'data'").first().n >= 1
    # time-travel registration
    register_sql_views(spark, path, "li_v1", snapshot_id=3776207205136740581, allow_moved_paths=True)
    assert spark.sql("SELECT COUNT(*) AS n FROM li_v1").first().n == 60175
    # views compose with plain SQL (join metadata to data counts)
    row = spark.sql(
        "SELECT SUM(record_count) AS rc FROM li_metadata WHERE status <> 'DELETED' AND content = 'EXISTING'"
    ).first()
    assert row.rc is None or row.rc >= 0


@requires_reference
def test_register_sql_views_opts_forwarding(spark):
    """codec/time-travel/stray-mode opts must forward to ALL six
    views: gzip metadata + snapshot_id registration succeeds and
    every view answers SQL (reference SQL usage pins one version
    across scan+snapshots+metadata, test/sql/iceberg_scan.test)."""
    from duckdb_iceberg_spark import register_sql_views

    path = f"{BASE}/lineitem_iceberg_gz"
    names = register_sql_views(
        spark,
        path,
        "ligz",
        metadata_compression_codec="gzip",
        allow_moved_paths=True,
        mode="default",  # stray mode must not TypeError the _files view
    )
    for v in names:
        assert spark.sql(f"SELECT COUNT(*) AS n FROM {v}").first().n >= 0
    assert spark.sql("SELECT COUNT(*) AS n FROM ligz").first().n == 111968
    # snapshot pinning reaches data AND metadata views
    snaps = sorted(r.snapshot_id for r in spark.sql("SELECT snapshot_id FROM ligz_snapshots").collect())
    register_sql_views(
        spark,
        path,
        "ligz_v1",
        metadata_compression_codec="gzip",
        snapshot_id=snaps[0],
        allow_moved_paths=True,
    )
    assert spark.sql("SELECT COUNT(*) AS n FROM ligz_v1").first().n > 0
    assert spark.sql("SELECT COUNT(*) AS n FROM ligz_v1_metadata").first().n > 0
    assert spark.sql("SELECT COUNT(*) AS n FROM ligz_v1_partitions").first().n >= 0


def test_time_as_string_rendering(spark, tmp_path):
    """Iceberg `time` columns (LONG micros — Spark has no TIME type)
    render as DuckDB-compatible HH:MM:SS[.ffffff] strings under
    time_as_string=True, cross-checked against DuckDB's own TIME
    formatting; the default scan keeps the sortable LONG."""
    import json

    import duckdb

    from duckdb_iceberg_spark import IcebergTable, iceberg_scan

    path = str(tmp_path / "t")
    os.makedirs(os.path.join(path, "metadata"))
    doc = {
        "format-version": 2,
        "table-uuid": "00000000-0000-0000-0000-000000000001",
        "location": path,
        "last-sequence-number": 0,
        "last-updated-ms": 0,
        "last-column-id": 2,
        "current-schema-id": 0,
        "schemas": [
            {
                "type": "struct",
                "schema-id": 0,
                "fields": [
                    {"id": 1, "name": "id", "required": False, "type": "long"},
                    {"id": 2, "name": "t", "required": False, "type": "time"},
                ],
            }
        ],
        "default-spec-id": 0,
        "partition-specs": [{"spec-id": 0, "fields": []}],
        "last-partition-id": 999,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {},
        "current-snapshot-id": -1,
        "snapshots": [],
        "snapshot-log": [],
        "metadata-log": [],
    }
    with open(os.path.join(path, "metadata", "v1.metadata.json"), "w") as f:
        json.dump(doc, f)
    with open(os.path.join(path, "metadata", "version-hint.text"), "w") as f:
        f.write("1")
    micros = [45296000000, 45296500000, 3723123456, 0, None]
    rows = [(i, m) for i, m in enumerate(micros)]
    spark.createDataFrame(rows, "id long, t long").coalesce(1).write.parquet(
        str(tmp_path / "data")
    )
    t = IcebergTable(spark, path)
    t.add_files([str(p) for p in (tmp_path / "data").glob("*.parquet")])
    # default: physical LONG micros
    got_long = {r.id: r.t for r in iceberg_scan(spark, path).collect()}
    assert got_long == {i: m for i, m in enumerate(micros)}
    # formatted: equals DuckDB's TIME->VARCHAR for every value
    got_str = {r.id: r.t for r in iceberg_scan(spark, path, time_as_string=True).collect()}
    for i, m in enumerate(micros):
        if m is None:
            assert got_str[i] is None
        else:
            want = duckdb.sql(
                f"SELECT CAST((TIME '00:00:00' + to_microseconds({m})) AS VARCHAR)"
            ).fetchone()[0]
            assert got_str[i] == want, (m, got_str[i], want)


@requires_reference
def test_zstandard_manifest_table_scans(spark, tmp_path):
    """Foreign-engine interop: copy the reference lineitem table,
    re-encode every Avro manifest + manifest list with the zstandard
    codec (what a zstd-configured Java/Flink writer emits), and assert
    the scan still matches the 51793 golden count (r7 VERDICT
    missing #3)."""
    import glob
    import json
    import shutil

    from duckdb_iceberg_spark.plans.avro import read_avro_file, write_avro_file

    dst = str(tmp_path / "lineitem_zstd")
    shutil.copytree(LI, dst)
    re_encoded = 0
    for avro_path in glob.glob(os.path.join(dst, "metadata", "*.avro")):
        meta, recs = read_avro_file(avro_path)
        schema = json.loads(meta["avro.schema"])
        extra = {
            k: v.decode() if isinstance(v, bytes) else v
            for k, v in meta.items()
            if k not in ("avro.schema", "avro.codec")
        }
        write_avro_file(avro_path, schema, recs, metadata=extra, codec="zstandard")
        re_encoded += 1
    assert re_encoded >= 3  # manifest lists + manifests
    df = iceberg_scan(spark, dst, allow_moved_paths=True)
    assert df.count() == 51793


def test_foreign_writer_eq_delete_table(spark, tmp_path):
    """Foreign-writer fixture (plans/foreign_fixture.py): pyiceberg-
    style metadata naming (version-guessed), zstandard manifests,
    mixed partition specs, percent-encoded partition dirs, inherited
    sequence numbers, and mid-history equality deletes. The
    percent-encoded dirs are a regression guard: Spark reports
    _metadata.file_path as a percent-encoded URI, and the seq/delete
    joins must compare RAW paths (caught by this fixture in r8)."""
    import duckdb

    from duckdb_iceberg_spark.plans.foreign_fixture import write_foreign_table

    src = "/root/testdata/sf0.001/part.parquet"
    path = str(tmp_path / "t")
    info = write_foreign_table(src, path)
    assert info["commit1_rows"] > 0
    df = iceberg_scan(spark, path, unsafe_enable_version_guessing=True)
    got = sorted((r.p_partkey, r.p_brand, r.p_size, float(r.p_retailprice)) for r in df.collect())
    want = sorted(
        (int(a), b, int(c), float(d))
        for a, b, c, d in duckdb.sql(
            f"""SELECT p_partkey, p_brand, p_size, p_retailprice
            FROM read_parquet('{src}')
            WHERE (p_partkey % 3 = 2)
               OR NOT (p_size IN (1,2,3,48,49,50) OR p_brand = 'Brand#33')"""
        ).fetchall()
    )
    assert got == want
    # snapshot listing exposes all four foreign commits
    snaps = iceberg_snapshots(spark, path, unsafe_enable_version_guessing=True).collect()
    assert [s.sequence_number for s in snaps] == [1, 2, 3, 4]
    # the Arrow executor-read path resolves the same table identically
    # (field-id parquet, percent-encoded dirs, seq-scoped eq deletes)
    arrow = iceberg_scan(
        spark, path, unsafe_enable_version_guessing=True, io="arrow"
    )
    got_arrow = sorted(
        (r.p_partkey, r.p_brand, r.p_size, float(r.p_retailprice))
        for r in arrow.collect()
    )
    assert got_arrow == got


def test_eq_delete_join_count_independent_of_file_count(spark, tmp_path):
    """Batched equality-delete application (r8 VERDICT #2): a table
    carrying MANY equality-delete files must still plan exactly ONE
    anti-join per distinct equality_ids group — plan size is
    O(groups), not O(files) — and the extra single-key delete files
    must apply with correct sequence scoping (commit-4 rows survive
    even when their keys appear in the seq-3 deletes)."""
    import duckdb

    from duckdb_iceberg_spark.plans.foreign_fixture import (
        DELETE_BRAND,
        DELETE_SIZES,
        write_foreign_table,
    )

    src = "/root/testdata/sf0.001/part.parquet"
    path = str(tmp_path / "t20")
    info = write_foreign_table(src, path, extra_eq_delete_files=20)
    keys = info["extra_eq_delete_keys"]
    assert len(keys) == 20 and all(k % 3 == 0 for k in keys)
    df = iceberg_scan(spark, path, unsafe_enable_version_guessing=True)
    # 3 equality_ids groups ([p_size], [p_brand], [p_partkey]) -> 3
    # anti-joins, though the keys arrive spread over 22 delete files
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("LeftAnti") == 3, plan
    sizes = ",".join(map(str, DELETE_SIZES))
    in_keys = ",".join(map(str, keys))
    got = sorted((r.p_partkey, r.p_brand) for r in df.collect())
    want = sorted(
        (int(a), b)
        for a, b in duckdb.sql(
            f"""SELECT p_partkey, p_brand FROM read_parquet('{src}')
            WHERE (p_partkey % 3 = 2)
               OR (NOT (p_size IN ({sizes}) OR p_brand = '{DELETE_BRAND}')
                   AND p_partkey NOT IN ({in_keys}))"""
        ).fetchall()
    )
    assert got == want and len(got) > 0


def test_foreign_table_where_prunes_and_filters_exactly(spark, tmp_path):
    """`where=` over the foreign-written mixed-spec table: rows are
    exactly the filtered full scan, AND file pruning engages against
    the foreign manifests — identity-partition values on the spec-1
    entries and Appendix-D bounds on every entry (only the matching
    brand's spec-1 files plus the unpruneable spec-0 file survive)."""
    from duckdb_iceberg_spark.plans.foreign_fixture import write_foreign_table
    from duckdb_iceberg_spark.plans.manifests import load_table_scan
    from duckdb_iceberg_spark.plans.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.iceberg import _prune_by_stats, _where_predicate

    path = str(tmp_path / "t")
    write_foreign_table("/root/testdata/sf0.01/part.parquet", path)
    pred = "p_brand = 'Brand#11' AND p_partkey < 500"
    full = iceberg_scan(spark, path, unsafe_enable_version_guessing=True)
    pruned = iceberg_scan(
        spark, path, unsafe_enable_version_guessing=True, where=pred
    )
    got = sorted(map(tuple, pruned.collect()))
    want = sorted(map(tuple, full.filter(pred).collect()))
    assert got == want and len(got) > 0
    # file-level: the pruners keep strictly fewer data files
    meta = load_table_metadata(path, unsafe_enable_version_guessing=True)
    scan = load_table_scan(meta, meta.latest_snapshot(), path)
    entries = scan.data_files()
    schema = meta.schema_for_snapshot(meta.latest_snapshot())
    _, where = _where_predicate(spark, schema, pred)
    kept = _prune_by_stats(meta, entries, where)
    assert len(kept) < len(entries) // 4, (len(kept), len(entries))


def test_v3_deletion_vectors_mixed_with_positional(spark, tmp_path):
    """Iceberg v3 deletion vectors (Puffin roaring blobs, fields
    143-145) applied together with a leftover v2 positional-delete
    parquet — the state of an upgraded table. The DV positions decode
    executor-side and feed the same (file_path, pos) anti-join as
    classic deletes."""
    import duckdb

    from duckdb_iceberg_spark.plans.foreign_fixture import DELETE_SIZES, write_dv_table
    from duckdb_iceberg_spark.plans.puffin import read_puffin_footer

    src = "/root/testdata/sf0.001/part.parquet"
    path = str(tmp_path / "dv")
    info = write_dv_table(src, path)
    g0, g1, g2 = info["groups"]
    dead = (
        {g0[i] for i in info["dv0_positions"]}
        | {g1[i] for i in info["dv1_positions"]}
        | set(g2[-3:])
    )
    df = iceberg_scan(spark, path)
    got = sorted(r.p_partkey for r in df.collect())
    want = sorted(k for ks in info["groups"] for k in ks if k not in dead)
    assert got == want and 0 < len(got) < info["n_rows"]
    # the file-0 DV targets exactly the p_size predicate rows
    sizes = ",".join(map(str, DELETE_SIZES))
    n_sized = duckdb.sql(
        f"SELECT count(*) FROM read_parquet('{src}') "
        f"WHERE p_partkey % 3 = 0 AND p_size IN ({sizes})"
    ).fetchone()[0]
    assert len(info["dv0_positions"]) == n_sized > 0
    # list_files exposes the puffin once + the parquet delete
    lf = iceberg_scan(spark, path, mode="list_files").collect()
    deletes = [r.file for r in lf if r.type == "delete"]
    assert len(deletes) == 2 and sum(f.endswith(".puffin") for f in deletes) == 1
    # the puffin footer itself parses and declares both DV blobs
    foot = read_puffin_footer(next(f for f in deletes if f.endswith(".puffin")))
    assert [b["type"] for b in foot["blobs"]] == ["deletion-vector-v1"] * 2
    assert sorted(int(b["properties"]["cardinality"]) for b in foot["blobs"]) == sorted(
        [len(info["dv0_positions"]), len(info["dv1_positions"])]
    )


def test_v3_deletion_vectors_arrow_path(spark, tmp_path):
    """io='arrow' applies v3 deletion vectors in-reader (decode via
    plans/fs.read_range + the portable-roaring codec, merged with any
    classic positional deletes for the same file) — byte-identical
    rows to the default JVM path on the mixed DV + positional-delete
    fixture."""
    from duckdb_iceberg_spark.plans.foreign_fixture import write_dv_table

    path = str(tmp_path / "dv_arrow")
    write_dv_table("/root/testdata/sf0.001/part.parquet", path)
    cols = ["p_partkey", "p_brand", "p_size", "p_retailprice"]
    jvm = sorted(map(tuple, iceberg_scan(spark, path).select(cols).collect()))
    arw = sorted(map(tuple, iceberg_scan(spark, path, io="arrow").select(cols).collect()))
    assert jvm == arw and len(jvm) > 0


def test_mixed_format_data_files(spark, tmp_path):
    """One Iceberg table, three data-file formats: parquet (native),
    ORC (spark.read.orc), AVRO (pure-Python codec, executor-side).
    The reference parses file_format but assumes PARQUET and would
    mis-read this table. Positional deletes compose with AVRO files
    (positions synthesized from record order); with ORC files present
    a position-needing scan fails diagnosably instead of mis-reading;
    io='arrow' rejects non-parquet."""
    import glob

    import pytest

    from duckdb_iceberg_spark import iceberg_scan
    from duckdb_iceberg_spark.plans.avro import write_avro_file
    from duckdb_iceberg_spark.writer import IcebergTable

    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    path = str(tmp_path / "t")
    t = IcebergTable.create(spark, path, n.filter("n_nationkey < 10"))
    # ORC part: rows 10-17
    orc_dir = str(tmp_path / "orc")
    n.filter("n_nationkey >= 10 AND n_nationkey < 18").coalesce(1).write.orc(orc_dir)
    orc_file = glob.glob(orc_dir + "/part-*.orc")[0]
    t = IcebergTable(spark, path)
    t.add_files([orc_file], file_format="ORC")
    # AVRO part: rows 18-24, written by the pure-Python codec
    avro_schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "n_nationkey", "type": "int"},
            {"name": "n_name", "type": "string"},
            {"name": "n_regionkey", "type": "int"},
        ],
    }
    recs = [
        {"n_nationkey": r.n_nationkey, "n_name": r.n_name, "n_regionkey": r.n_regionkey}
        for r in n.filter("n_nationkey >= 18").orderBy("n_nationkey").collect()
    ]
    avro_file = str(tmp_path / "tail.avro")
    write_avro_file(avro_file, avro_schema, recs)
    t = IcebergTable(spark, path)
    t.add_files([avro_file], file_format="AVRO")
    got = {
        (r.n_nationkey, r.n_name, r.n_regionkey)
        for r in iceberg_scan(spark, path).collect()
    }
    want = {(r.n_nationkey, r.n_name, r.n_regionkey) for r in n.collect()}
    assert got == want
    lf = iceberg_scan(spark, path, mode="list_files").collect()
    assert {r.file for r in lf} >= {orc_file, avro_file}
    # ORC + row positions: diagnosable, not silent mis-read
    with pytest.raises(ValueError, match="ORC data file"):
        IcebergTable(spark, path).delete_where("n_nationkey = 1")
    with pytest.raises(ValueError, match="only PARQUET"):
        iceberg_scan(spark, path, io="arrow").collect()

    # parquet+avro only: MoR deletes work across both formats
    p2 = str(tmp_path / "t2")
    t2 = IcebergTable.create(spark, p2, n.filter("n_nationkey < 18"))
    t2 = IcebergTable(spark, p2)
    t2.add_files([avro_file], file_format="AVRO")
    t2 = IcebergTable(spark, p2)
    t2.delete_where("n_nationkey IN (3, 20)")  # one per format
    got2 = sorted(r.n_nationkey for r in iceberg_scan(spark, p2).collect())
    assert got2 == sorted(k for k in range(25) if k not in (3, 20))


def _jobs_during(spark, fn):
    """(fn(), ids of the Spark jobs fn ran), counted by job group."""
    import uuid

    sc = spark.sparkContext
    group = f"construct-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_scan_construction_runs_no_spark_job(spark, tmp_path):
    """iceberg_scan plans its parquet relation from the manifests'
    file_size_in_bytes: building it makes no filesystem listing, so
    construction runs no Spark job even past the 32 paths at which
    spark.read.parquet lists files with a job of one task per file.
    Checked at the latest snapshot (positional deletes applied) and at
    the pre-delete snapshot, with rows, where= pruning and position
    columns checked against DuckDB over the same files."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_iceberg_spark.sources import iceberg as SRC
    from duckdb_iceberg_spark.writer import IcebergTable

    path = str(tmp_path / "t")
    t = IcebergTable.create(spark, path, spark.createDataFrame([], "k long, v string"))
    ids = {c.name: c.field_id for c in t.schema.columns}
    schema = pa.schema(
        [
            pa.field(n, ty, metadata={b"PARQUET:field_id": str(ids[n]).encode()})
            for n, ty in (("k", pa.int64()), ("v", pa.string()))
        ]
    )
    files = []
    for i in range(40):
        p = str(tmp_path / f"part-{i:02d}.parquet")
        ks = list(range(i * 10, i * 10 + 10))
        pq.write_table(pa.table({"k": ks, "v": [f"v{k}" for k in ks]}, schema=schema), p)
        files.append(p)
    t.add_files(files)
    t = IcebergTable(spark, path)
    before = t.meta.current_snapshot_id
    t.delete_where("k % 7 = 0")

    def want(where):
        return sorted(
            duckdb.sql(
                f"SELECT k, v, filename, file_row_number FROM read_parquet({files!r}, "
                f"filename = true, file_row_number = true) WHERE {where}"
            ).fetchall()
        )

    for snap, live in ((None, "k % 7 <> 0"), (before, "true")):
        SRC._READ_CACHE.clear()  # measure the build, not the relation memo
        df, jobs = _jobs_during(spark, lambda: iceberg_scan(spark, path, snapshot_id=snap))
        assert jobs == []
        assert sorted(map(tuple, df.collect())) == [r[:2] for r in want(live)]
        pruned = iceberg_scan(spark, path, snapshot_id=snap, where="k BETWEEN 100 AND 149")
        assert sorted(map(tuple, pruned.collect())) == [
            r[:2] for r in want(f"{live} AND k BETWEEN 100 AND 149")
        ]
        pos = iceberg_scan(spark, path, snapshot_id=snap, _keep_position_columns=True)
        got = sorted((k, v, f.removeprefix("file:"), p) for k, v, f, p in pos.collect())
        assert got == want(live)


def test_scan_unsized_entry_and_missing_file(spark, tmp_path, caplog):
    """A data-file entry whose file_size_in_bytes is 0 is not planned
    from the manifest: Spark's own file listing resolves it, and the
    rows still read correctly. The relation build logs one DEBUG event
    with its file counts. A data file deleted from storage fails with
    an error naming its path when the query runs: construction no
    longer lists files, so, as with Iceberg's own Spark reader, the
    error surfaces at the action instead of at iceberg_scan()."""
    import json
    import logging

    from py4j.protocol import Py4JJavaError

    from duckdb_iceberg_spark.plans import foreign_fixture as FF
    from duckdb_iceberg_spark.plans.avro import write_avro_file

    meta_dir = tmp_path / "t" / "metadata"
    meta_dir.mkdir(parents=True)
    parts = [
        {"p_partkey": [1, 2], "p_brand": ["a", "b"], "p_size": [10, 20], "p_retailprice": [1.5, 2.5]},
        {"p_partkey": [3], "p_brand": ["c"], "p_size": [30], "p_retailprice": [3.5]},
    ]
    files, entries = [], []
    for i, cols in enumerate(parts):
        fp = str(tmp_path / "t" / f"f{i}.parquet")
        _, size = FF._write_parquet(fp, cols)
        files.append(fp)
        entries.append(FF._data_entry(cols, fp, size if i == 0 else 0, seq=1, snap_id=1))
    manifest = str(meta_dir / "m0.avro")
    length = write_avro_file(
        manifest, FF._entry_schema([]), entries,
        metadata={"schema": json.dumps(FF._schema_json()), "partition-spec": "[]",
                  "partition-spec-id": "0", "format-version": "2", "content": "data"},
    )
    manifest_list = str(meta_dir / "snap-1.avro")
    write_avro_file(
        manifest_list, FF._MANIFEST_FILE_SCHEMA,
        [{"manifest_path": manifest, "manifest_length": length, "partition_spec_id": 0,
          "content": 0, "sequence_number": 1, "min_sequence_number": 1, "added_snapshot_id": 1,
          "added_files_count": 2, "existing_files_count": 0, "deleted_files_count": 0,
          "added_rows_count": 3, "existing_rows_count": 0, "deleted_rows_count": 0,
          "key_metadata": None}],
        metadata={"format-version": "2"},
    )
    metadata = str(meta_dir / "v1.metadata.json")
    with open(metadata, "w") as fh:
        json.dump(
            {"format-version": 2, "table-uuid": "00000000-0000-0000-0000-000000000001",
             "location": str(tmp_path / "t"), "last-sequence-number": 1,
             "last-updated-ms": 1700000000000, "last-column-id": 4, "current-schema-id": 0,
             "schemas": [FF._schema_json()], "default-spec-id": 0,
             "partition-specs": [{"spec-id": 0, "fields": []}], "last-partition-id": 999,
             "default-sort-order-id": 0, "sort-orders": [{"order-id": 0, "fields": []}],
             "properties": {}, "current-snapshot-id": 1,
             "snapshots": [{"snapshot-id": 1, "sequence-number": 1, "timestamp-ms": 1700000000000,
                            "manifest-list": manifest_list, "schema-id": 0,
                            "summary": {"operation": "append"}}]},
            fh,
        )

    caplog.set_level(logging.DEBUG, logger="duckdb_iceberg_spark")
    rows = sorted(map(tuple, iceberg_scan(spark, metadata).collect()))
    assert rows == [(1, "a", 10, 1.5), (2, "b", 20, 2.5), (3, "c", 30, 3.5)]
    events = [r for r in caplog.records if r.name == "duckdb_iceberg_spark" and hasattr(r, "listed")]
    assert [(r.files, r.from_manifest, r.listed) for r in events] == [(2, 1, 1)]

    os.remove(files[0])
    df = iceberg_scan(spark, metadata)
    with pytest.raises(Py4JJavaError, match="f0.parquet"):
        df.collect()


def test_metadata_tables_collect_with_no_spark_job(spark, tmp_path):
    """Metadata tables and iceberg_scan(mode="list_files") are built as
    Arrow-backed local relations: collecting them, projected or
    filtered, runs no Spark job. Rows and schemas are checked against
    the table's metadata JSON and its Avro manifest list and manifests,
    read directly. Timestamps are compared as Python-side collect()
    shows them: naive, in the process's zone."""
    import datetime

    from pyspark.sql.types import _parse_datatype_string

    from duckdb_iceberg_spark.plans.avro import read_avro_file
    from duckdb_iceberg_spark.plans.table_metadata import load_table_metadata
    from duckdb_iceberg_spark.sources.iceberg import (
        iceberg_history,
        iceberg_partitions,
        iceberg_table_statistics,
    )
    from duckdb_iceberg_spark.writer import IcebergTable

    path = str(tmp_path / "t")
    t = IcebergTable.create(
        spark, path, spark.range(6).selectExpr("id AS k", "CAST(id % 2 AS STRING) AS p"),
        partition_by=["p"],
    )
    t.append(spark.range(6, 10).selectExpr("id AS k", "CAST(id % 2 AS STRING) AS p"))
    t.delete_where("k % 3 = 0")
    t.compute_statistics(["k"])
    raw = load_table_metadata(path).raw

    def local_ts(ms):
        return datetime.datetime.fromtimestamp(ms // 1000).replace(microsecond=ms % 1000 * 1000)

    snapshots = raw["snapshots"]
    parents = {s["snapshot-id"]: s.get("parent-snapshot-id") for s in snapshots}
    ancestors, cur = set(), raw["current-snapshot-id"]
    while cur is not None:
        ancestors.add(cur)
        cur = parents[cur]
    current = next(s for s in snapshots if s["snapshot-id"] == raw["current-snapshot-id"])
    manifests = read_avro_file(current["manifest-list"])[1]
    entries = [(m, e) for m in manifests for e in read_avro_file(m["manifest_path"])[1]]
    live = [(m, e) for m, e in entries if e["status"] != 2]
    parts: dict = {}
    for m, e in live:
        if m["content"] == 0:
            slot = parts.setdefault(tuple(sorted(e["data_file"]["partition"].items())), [0, 0, 0])
            slot[0] += e["data_file"]["record_count"]
            slot[1] += 1
            slot[2] += e["data_file"]["file_size_in_bytes"]
    id_to_name = {c["id"]: c["name"] for c in raw["schemas"][-1]["fields"]}
    status = {0: "EXISTING", 1: "ADDED", 2: "DELETED"}
    content = {0: "EXISTING", 1: "POSITION_DELETES", 2: "EQUALITY_DELETES"}

    cases = [
        (
            iceberg_snapshots(spark, path),
            "sequence_number long, snapshot_id long, timestamp_ms timestamp, manifest_list string",
            [(s["sequence-number"], s["snapshot-id"], local_ts(s["timestamp-ms"]), s["manifest-list"])
             for s in snapshots],
        ),
        (
            iceberg_snapshots(spark, path).select("snapshot_id"),
            "snapshot_id long",
            [(s["snapshot-id"],) for s in snapshots],
        ),
        (
            iceberg_history(spark, path),
            "made_current_at timestamp, snapshot_id long, parent_id long, is_current_ancestor boolean",
            [(local_ts(h["timestamp-ms"]), h["snapshot-id"], parents[h["snapshot-id"]],
              h["snapshot-id"] in ancestors) for h in raw["snapshot-log"]],
        ),
        (
            iceberg_partitions(spark, path),
            "partition map<string,string>, record_count long, file_count int, total_size_bytes long",
            [(dict(k), *v) for k, v in sorted(parts.items())],
        ),
        (
            iceberg_table_statistics(spark, path),
            "snapshot_id long, column string, blob_type string, ndv long",
            [(s["snapshot-id"], id_to_name[b["fields"][0]], b["type"], int(b["properties"]["ndv"]))
             for s in raw["statistics"] for b in s["blob-metadata"]],
        ),
        (
            iceberg_metadata(spark, path).filter(F.col("status") != "DELETED"),
            "manifest_path string, manifest_sequence_number long, manifest_content string, "
            "status string, content string, file_path string, file_format string, record_count long",
            [(m["manifest_path"], m["sequence_number"], "DELETE" if m["content"] else "DATA",
              status[e["status"]], content[e["data_file"]["content"]], e["data_file"]["file_path"],
              e["data_file"]["file_format"].upper(), e["data_file"]["record_count"])
             for m, e in live],
        ),
        (
            iceberg_scan(spark, path, mode="list_files"),
            "file string, type string",
            [(e["data_file"]["file_path"], "delete" if m["content"] else "data") for m, e in live],
        ),
    ]
    assert any(m["content"] == 1 for m, _ in live)  # the delete left a delete file
    assert parents[snapshots[0]["snapshot-id"]] is None  # a NULL parent_id row
    for df, ddl, want in cases:
        rows, jobs = _jobs_during(spark, df.collect)
        assert jobs == []
        assert df.schema == _parse_datatype_string(ddl)
        assert sorted(map(tuple, rows), key=repr) == sorted(want, key=repr)


def test_local_df_edge_cases(spark, tmp_path):
    """_local_df, the package's one builder of driver-side DataFrames:
    an empty zero-column frame (skip_schema_inference on a table with no
    data files), a map column holding a NULL map and a NULL value, and
    NULL longs, all collected with no Spark job."""
    from pyspark.sql import types as T
    from pyspark.sql.types import _parse_datatype_string

    from duckdb_iceberg_spark.sources.iceberg import _local_df
    from duckdb_iceberg_spark.writer import IcebergTable

    path = str(tmp_path / "t")
    IcebergTable.create(spark, path, spark.createDataFrame([], "k long"))
    empty = iceberg_scan(spark, path, skip_schema_inference=True)
    assert empty.schema == T.StructType([])
    assert _jobs_during(spark, empty.collect) == ([], [])

    ddl = "partition map<string,string>, record_count long, file_count int, total_size_bytes long"
    rows = [({"p": "a", "q": None}, 3, 1, None), (None, None, None, 7)]
    df = _local_df(spark, rows, ddl)
    got, jobs = _jobs_during(spark, df.collect)
    assert jobs == []
    assert df.schema == _parse_datatype_string(ddl)
    assert [tuple(r) for r in got] == rows

    ddl = "snapshot_id long, column string, blob_type string, ndv long"
    got, jobs = _jobs_during(spark, _local_df(spark, [(1, "k", "ndv-long-v1", None)], ddl).collect)
    assert (jobs, [tuple(r) for r in got]) == ([], [(1, "k", "ndv-long-v1", None)])


def test_every_driver_built_dataframe_goes_through_local_df(spark):
    """The package builds driver-side DataFrames in one place:
    sources.iceberg._local_df, whose frames are LocalRelations. Any
    createDataFrame call outside it would bring back the pickled-RDD
    path whose actions each run a job."""
    import ast
    import pathlib

    import duckdb_iceberg_spark
    from duckdb_iceberg_spark.sources.iceberg import _local_df

    root = pathlib.Path(duckdb_iceberg_spark.__file__).parent
    builders, others = [], []
    for f in sorted(root.rglob("*.py")):
        tree = ast.parse(f.read_text(), str(f))
        inside = {
            id(n)
            for fn in ast.walk(tree)
            if isinstance(fn, ast.FunctionDef) and fn.name == "_local_df"
            for n in ast.walk(fn)
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "createDataFrame"
            ):
                where = f"{f.relative_to(root)}:{node.lineno}"
                (builders if id(node) in inside else others).append(where)
    assert others == []
    plan = _local_df(spark, [(1, "a")], "k long, v string")._jdf.queryExecution().optimizedPlan()
    assert plan.getClass().getSimpleName() == "LocalRelation"


def _live_files(path):
    """The latest snapshot's live manifest entries of the table at path."""
    from duckdb_iceberg_spark.plans.manifests import load_table_scan
    from duckdb_iceberg_spark.plans.table_metadata import load_table_metadata

    meta = load_table_metadata(path)
    return load_table_scan(meta, meta.latest_snapshot(), path, False)


def test_deletes_on_encoded_paths_match_duckdb(spark, tmp_path):
    """Tables whose root and partition directories hold characters Spark
    percent-encodes in _metadata.file_path (a space, '#', '%', '+' and a
    non-ASCII letter; the partition directories also carry the literal
    '%23'/'%25' escapes of the writer). v2 position deletes, v3 deletion
    vectors with row_lineage, and sequence-scoped equality deletes all
    read the rows DuckDB computes over the same parquet files, delete
    files and deletion-vector blobs."""
    import duckdb
    import pyarrow as pa

    from duckdb_iceberg_spark.plans.fs import read_range
    from duckdb_iceberg_spark.plans.roaring import decode_dv_blob
    from duckdb_iceberg_spark.writer import IcebergTable

    root = tmp_path / "r o#o%t+é"
    src = spark.createDataFrame(
        [(i, f"p {i % 3}#%+é") for i in range(60)], "k long, p string"
    ).repartition(2)
    con = duckdb.connect()

    def data_rows(scan):
        files = [e.file_path for e in scan.data_files()]
        return (
            f"SELECT k, p, filename, file_row_number FROM read_parquet({files!r}, "
            "filename = true, file_row_number = true, hive_partitioning = false)"
        )

    # v2: position-delete parquet files
    v2 = str(root / "v2")
    IcebergTable.create(spark, v2, src, partition_by=["p"]).delete_where("k % 4 = 0")
    scan = _live_files(v2)
    dels = [e.file_path for e in scan.positional_delete_files()]
    assert dels and all(" " in f and "é" in f for f in dels)
    want = con.sql(
        f"SELECT k, p FROM ({data_rows(scan)}) d ANTI JOIN read_parquet({dels!r}) x "
        "ON d.filename = x.file_path AND d.file_row_number = x.pos"
    ).fetchall()
    assert len(want) == 45
    assert sorted(map(tuple, iceberg_scan(spark, v2).collect())) == sorted(want)

    # v3: deletion vectors, read with row lineage
    v3 = str(root / "v3")
    IcebergTable.create(spark, v3, src, partition_by=["p"], format_version=3).delete_where(
        "k % 5 = 0"
    )
    scan = _live_files(v3)
    dvs = [e for e in scan.positional_delete_files() if e.content_offset is not None]
    assert dvs
    deleted = [
        (e.referenced_data_file, int(pos))
        for e in dvs
        for pos in decode_dv_blob(read_range(e.file_path, e.content_offset, e.content_size))
    ]
    con.register("dv", pa.table({"file_path": [f for f, _ in deleted], "pos": [p for _, p in deleted]}))
    lineage = pa.table(
        {
            "file_path": [e.file_path for e in scan.data_files()],
            "first_row_id": [e.first_row_id for e in scan.data_files()],
            "seq": [e.sequence_number for e in scan.data_files()],
        }
    )
    assert None not in lineage["first_row_id"].to_pylist()
    con.register("lineage", lineage)
    want = con.sql(
        f"SELECT k, p, l.first_row_id + d.file_row_number, l.seq FROM ({data_rows(scan)}) d "
        "JOIN lineage l ON d.filename = l.file_path "
        "ANTI JOIN dv ON d.filename = dv.file_path AND d.file_row_number = dv.pos"
    ).fetchall()
    assert len(want) == 48
    got = iceberg_scan(spark, v3, row_lineage=True).select(
        "k", "p", "_row_id", "_last_updated_sequence_number"
    )
    assert sorted(map(tuple, got.collect())) == sorted(want)

    # equality deletes, scoped to data files of a smaller sequence number
    eq = str(root / "eq")
    t = IcebergTable.create(spark, eq, src, partition_by=["p"])
    t.delete_where_equality(spark.createDataFrame([(3,), (10,), (11,)], "k long"))
    IcebergTable(spark, eq).append(src.filter("k = 10"))
    scan = _live_files(eq)
    eq_files = scan.equality_delete_files()
    assert eq_files
    con.register(
        "seqs",
        pa.table(
            {
                "file_path": [e.file_path for e in scan.data_files()],
                "seq": [e.sequence_number for e in scan.data_files()],
            }
        ),
    )
    eq_seq = max(e.sequence_number for e in eq_files)
    want = con.sql(
        f"SELECT k, p FROM ({data_rows(scan)}) d JOIN seqs s ON d.filename = s.file_path "
        f"WHERE s.seq >= {eq_seq} OR k NOT IN "
        f"(SELECT k FROM read_parquet({[e.file_path for e in eq_files]!r}))"
    ).fetchall()
    assert len(want) == 58
    assert sorted(map(tuple, iceberg_scan(spark, eq).collect())) == sorted(want)


def _anti_join_probe(plan) -> str:
    """The probe keys and probe-side subtree of the broadcast LeftAnti
    join in an executed (adaptive) plan, as strings."""
    nodes = [plan]
    while nodes:
        node = nodes.pop()
        name = node.nodeName()
        if name == "BroadcastHashJoin" and node.joinType().toString() == "LeftAnti":
            return f"{node.leftKeys().toString()}\n{node.left().toString()}"
        kids = node.children()
        nodes += [kids.apply(i) for i in range(kids.size())]
        if name == "AdaptiveSparkPlan":
            nodes.append(node.executedPlan())
        elif name.endswith("QueryStage"):
            nodes.append(node.plan())
    raise AssertionError(f"no broadcast LeftAnti join in\n{plan.toString()}")


def test_position_deletes_probe_with_raw_file_uri(spark, tmp_path):
    """The data side of the position-delete anti join probes with
    _metadata.file_path and _metadata.row_index untouched: no scanned
    row runs a regex or URL decode. Keying the delete side by file URI
    on the driver adds no Spark job: collecting runs 2."""
    from duckdb_iceberg_spark.writer import IcebergTable

    path = str(tmp_path / "t")
    t = IcebergTable.create(spark, path, spark.range(200).selectExpr("id AS k").repartition(4))
    t.delete_where("k % 3 = 0")
    df = iceberg_scan(spark, path)
    rows, jobs = _jobs_during(spark, df.collect)
    assert sorted(r.k for r in rows) == [k for k in range(200) if k % 3]
    assert len(jobs) == 2
    probe = _anti_join_probe(df._jdf.queryExecution().executedPlan())
    for fn in ("regexp_replace", "url_decode", "UrlCodec"):
        assert fn not in probe, probe


def test_delete_application_event(spark, tmp_path, caplog):
    """Each delete application logs one DEBUG event on the package
    logger with what it applied: data files, position-delete files,
    deletion vectors, manifest delete cardinality, the URI exception
    map's size and whether the delete side is broadcast. A root Spark
    percent-encodes makes no exceptions: it is the one (stored prefix,
    URI prefix) pair every file shares."""
    import logging

    from duckdb_iceberg_spark.writer import IcebergTable

    src = spark.range(40).selectExpr("id AS k").repartition(2)
    plain = str(tmp_path / "plain")
    IcebergTable.create(spark, plain, src).delete_where("k < 5")
    spaced = str(tmp_path / "a b" / "t")
    IcebergTable.create(spark, spaced, src, format_version=3).delete_where("k < 3")

    caplog.set_level(logging.DEBUG, logger="duckdb_iceberg_spark")
    got = {}
    for name, path in (("plain", plain), ("spaced", spaced)):
        caplog.clear()
        df = iceberg_scan(spark, path)
        events = [r for r in caplog.records if r.name == "duckdb_iceberg_spark" and hasattr(r, "uri_exceptions")]
        assert len(events) == 1
        e = events[0]
        got[name] = (e.position_delete_files, e.deletion_vectors, e.deleted_rows, e.broadcast)
        scan = _live_files(path)
        assert e.data_files == len(scan.data_files())
        assert e.uri_exceptions == 0 and e.data_files > 0
        assert df.count() == 40 - e.deleted_rows
    assert got["plain"][1:] == (0, 5, True) and got["plain"][0] >= 1
    assert got["spaced"][0] == 0 and got["spaced"][2:] == (3, True) and got["spaced"][1] >= 1


def test_where_pruners_trust_only_true_literals(spark):
    """Pruning reads a term as Spark resolves it: a bare word on the
    right is a column, not a string; a NOT, a CASE, a cast around the
    column, a literal Spark cannot cast, or a float range with no upper
    end (NaN sorts above every number) prunes nothing; comments, literal concatenation, escapes
    and constant arithmetic are Spark's own; decimals stay exact; a
    zoneless timestamp is read in the session time zone; an OR prunes
    each side. ``ranges`` lists the column ranges of the top-level AND;
    an unresolvable column raises, as Spark's filter does."""
    import decimal

    from pyspark.errors import AnalysisException
    from pyspark.sql import types as T

    from duckdb_iceberg_spark.plans.table_metadata import IcebergColumn, IcebergSchema
    from duckdb_iceberg_spark.sources.iceberg import _Bool, _Range, _where_predicate

    cols = dict(
        k=T.LongType(), a=T.StringType(), b=T.StringType(), x=T.DoubleType(),
        d=T.DecimalType(10, 2), ts=T.TimestampType(), ntz=T.TimestampNTZType(), day=T.DateType(),
    )
    schema = IcebergSchema(0, [IcebergColumn(i, n, t) for i, (n, t) in enumerate(cols.items(), 1)])
    names = {c.field_id: c.name for c in schema.columns}

    def predicate(where, tz="UTC"):
        spark.conf.set("spark.sql.session.timeZone", tz)
        try:
            return _where_predicate(spark, schema, where)[1]
        finally:
            spark.conf.set("spark.sql.session.timeZone", "UTC")

    def ranges(where, tz="UTC"):
        p = predicate(where, tz)
        terms = p.kids if isinstance(p, _Bool) and p.op == "and" else (p,)
        return {names[r.fid]: tuple(r)[2:] for r in terms if isinstance(r, _Range)}

    for where in (
        "a = b", "a IN (b, 'x')", "a = true", "NOT k BETWEEN 1 AND 5", "NOT k = 5",
        "CASE WHEN b = 'y' AND k = 5 THEN true END", "a = 'y' OR k = 5", "x > 5", "x >= 1e3",
        "a = TIMESTAMP '2024-01-01'", "k = 'abc'",
    ):
        assert ranges(where) == {}, where
    # each range is the folded literal Spark filters on
    for where, want in (
        ("a IN ('x' 'y')", {"a": ("xy", "xy", False, False)}),
        ("k = 5-3", {"k": (2, 2, False, False)}),
        ("a = 'c:\\x'", {"a": ("c:x", "c:x", False, False)}),
        ("k BETWEEN 1 AND 5 + 2", {"k": (1, 7, False, False)}),
        ("k = 5 -- and more", {"k": (5, 5, False, False)}),
        ("k = 5 /* AND */", {"k": (5, 5, False, False)}),
        ("day = '2024-01-01 10:00:00'", {"day": (datetime.date(2024, 1, 1),) * 2 + (False, False)}),
        ("ntz = '2024-01-01T00:00:00+02:00'", {"ntz": (datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc),) * 2 + (False, False)}),
    ):
        assert ranges(where) == want, where
    with pytest.raises(AnalysisException):
        predicate("k = 1_0")
    assert ranges("a = 'x AND k = 5 AND y'") == {"a": ("x AND k = 5 AND y",) * 2 + (False, False)}
    assert ranges("k BETWEEN 1 AND 5 AND a >= 'm'") == {"k": (1, 5, False, False), "a": ("m", None, False, False)}
    assert ranges("k = 1 AND (a = 'x' OR k = 2)") == {"k": (1, 1, False, False)}
    assert ranges("d <= 1.1") == {"d": (None, decimal.Decimal("1.1"), False, False)}
    assert ranges("x > 5 AND x < 9") == {"x": (5, 9, True, True)}
    utc = datetime.timezone.utc
    assert ranges("ts < '2024-01-01 00:00:00'", "America/Los_Angeles") == {
        "ts": (None, datetime.datetime(2024, 1, 1, 8, tzinfo=utc), False, True)
    }
    assert ranges("ts < TIMESTAMP '2024-01-01 00:00:00+01:00'", "America/Los_Angeles") == {
        "ts": (None, datetime.datetime(2023, 12, 31, 23, tzinfo=utc), False, True)
    }
    assert ranges("ts < '2024-01-01'", "+02:00") == {
        "ts": (None, datetime.datetime(2023, 12, 31, 22, tzinfo=utc), False, True)
    }
    # an OR keeps a file if either side may match
    assert predicate("a = 'y' OR k = 5") == _Bool(
        "or", (_Range(2, T.StringType(), "y", "y"), _Range(1, T.LongType(), 5, 5))
    )
