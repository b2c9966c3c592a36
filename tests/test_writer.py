"""Write-surface differential tests.

Mirrors the reference's layer-2 test strategy (SURVEY.md §5): apply the
same 8-step mutation sequence as reference updates_v2/q01-q08.sql
(NULL-out update, self-insert, computed update, two deletes, ADD COLUMN
DEFAULT, computed update, type widen) through OUR native Iceberg writer,
and after each step assert our scan() equals a DuckDB oracle that
applied the equivalent SQL to a plain table.
"""

import os
import sys
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).parent))
from oracle_harness import canon_rows

from pyspark.sql import functions as F

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def base(spark, tmp_path_factory):
    """(IcebergTable, duckdb con with mirrored mutable table)."""
    from duckdb_iceberg_spark import IcebergTable

    path = str(tmp_path_factory.mktemp("wtab") / "supplier_iceberg")
    df = spark.read.parquet(f"{SF}/supplier.parquet").select(
        "s_suppkey", "s_name", "s_nationkey", F.col("s_acctbal").cast("double").alias("s_acctbal")
    )
    t = IcebergTable.create(spark, path, df)
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE s AS SELECT s_suppkey, s_name, s_nationkey, CAST(s_acctbal AS DOUBLE) AS s_acctbal "
        f"FROM read_parquet('{SF}/supplier.parquet')"
    )
    return t, con


def assert_table_equals(t, con):
    sdf = t.scan()
    srows = [tuple(r) for r in sdf.collect()]
    orows = con.execute("SELECT * FROM s").fetchall()
    ocols = [d[0] for d in con.execute("SELECT * FROM s LIMIT 0").description]
    assert sorted(sdf.columns) == sorted(ocols), (sdf.columns, ocols)
    assert len(srows) == len(orows)
    assert canon_rows(sdf.columns, srows) == canon_rows(ocols, orows)


def test_q01_update_to_null(base):
    t, con = base
    t.update_where("s_suppkey % 7 = 0", {"s_acctbal": F.lit(None).cast("double")})
    con.execute("UPDATE s SET s_acctbal = NULL WHERE s_suppkey % 7 = 0")
    assert_table_equals(t, con)


def test_q02_self_insert(base):
    t, con = base
    t.insert_sql("SELECT * FROM t WHERE s_suppkey % 13 = 0")
    con.execute("INSERT INTO s SELECT * FROM s WHERE s_suppkey % 13 = 0")
    assert_table_equals(t, con)


def test_q03_computed_update(base):
    t, con = base
    t.update_where("s_nationkey < 5", {"s_acctbal": "s_acctbal + 100.0"})
    con.execute("UPDATE s SET s_acctbal = s_acctbal + 100.0 WHERE s_nationkey < 5")
    assert_table_equals(t, con)


def test_q04_delete(base):
    t, con = base
    t.delete_where("s_acctbal < 0")
    con.execute("DELETE FROM s WHERE s_acctbal < 0")
    assert_table_equals(t, con)


def test_q05_delete_mod(base):
    t, con = base
    t.delete_where("s_suppkey % 11 = 0")
    con.execute("DELETE FROM s WHERE s_suppkey % 11 = 0")
    assert_table_equals(t, con)


def test_q06_add_column_default(base):
    t, con = base
    t.add_column("evolved", "int", default=42)
    con.execute("ALTER TABLE s ADD COLUMN evolved INT DEFAULT 42")
    assert_table_equals(t, con)


def test_q07_update_new_column(base):
    t, con = base
    t.update_where("s_suppkey % 5 = 0", {"evolved": "CAST(s_suppkey AS INT)"})
    con.execute("UPDATE s SET evolved = s_suppkey WHERE s_suppkey % 5 = 0")
    assert_table_equals(t, con)


def test_q08_widen_int_to_bigint(base):
    t, con = base
    t.alter_column_type("evolved", "long")
    con.execute("ALTER TABLE s ALTER COLUMN evolved TYPE BIGINT")
    assert_table_equals(t, con)
    assert dict(t.scan().dtypes)["evolved"] == "bigint"


def test_time_travel_after_mutations(base):
    t, con = base
    snaps = [s.snapshot_id for s in t.meta.snapshots]
    # first snapshot = initial CTAS contents
    first = t.scan(snapshot_id=snaps[0])
    n0 = con.execute(f"SELECT COUNT(*) FROM read_parquet('{SF}/supplier.parquet')").fetchone()[0]
    assert first.count() == n0


def test_compaction_preserves_data(base):
    t, con = base
    before = canon_rows(t.scan().columns, [tuple(r) for r in t.scan().collect()])
    n_data_before = len([e for e in _live_entries(t)])
    t.rewrite_data_files(target_file_size_bytes=1 << 30)
    after_df = t.scan()
    after = canon_rows(after_df.columns, [tuple(r) for r in after_df.collect()])
    assert before == after
    # compacted into fewer files, and no delete files remain in the live view
    from duckdb_iceberg_spark.plans.manifests import load_table_scan

    scan = load_table_scan(t.meta, t.meta.latest_snapshot(), t.path, False)
    assert len(scan.positional_delete_files()) == 0
    assert len(scan.data_files()) <= n_data_before


def _live_entries(t):
    from duckdb_iceberg_spark.plans.manifests import load_table_scan

    return load_table_scan(t.meta, t.meta.latest_snapshot(), t.path, False).data_files()


def test_expire_and_remove_orphans(base):
    t, con = base
    t.expire_snapshots(keep_last=1)
    assert len(t.meta.snapshots) == 1
    removed = t.remove_orphan_files()
    assert len(removed) > 0  # pre-compaction files are orphaned
    assert_table_equals(t, con)


def test_rename_and_drop_column(spark, tmp_path):
    from duckdb_iceberg_spark import IcebergTable

    df = spark.read.parquet(f"{SF}/region.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "regtab"), df)
    t.rename_column("r_name", "region_name")
    assert "region_name" in t.scan().columns
    assert t.scan().count() == df.count()
    t.drop_column("r_comment")
    assert "r_comment" not in t.scan().columns


def test_equality_deletes_roundtrip(spark, tmp_path):
    """Write equality-delete files; scan must apply them as a
    sequence-scoped anti join (spec-correct, unlike the reference)."""
    from duckdb_iceberg_spark import IcebergTable

    df = spark.read.parquet(f"{SF}/customer.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "eqtab"), df)
    n0 = t.scan().count()
    victims = df.filter("c_custkey % 10 = 3").select("c_custkey")
    n_victims = victims.count()
    t.delete_where_equality(victims)
    assert t.scan().count() == n0 - n_victims
    assert t.scan().filter("c_custkey % 10 = 3").count() == 0
    # rows appended AFTER the equality delete are NOT affected
    revived = df.filter("c_custkey % 10 = 3").limit(5)
    t.append(revived)
    assert t.scan().filter("c_custkey % 10 = 3").count() == 5
    assert t.scan().count() == n0 - n_victims + 5


def test_all_types_roundtrip(spark, tmp_path):
    """FIXTURES.md F1 shape: one column per supported Iceberg type
    written natively, scanned back value-exact (incl. decimal bounds)."""
    from pyspark.sql import functions as FX

    from duckdb_iceberg_spark import IcebergTable

    li = spark.read.parquet(f"{SF}/lineitem.parquet").limit(500)
    df = li.select(
        (FX.col("l_orderkey") % 2 == 0).alias("c_bool"),
        FX.col("l_partkey").cast("int").alias("c_int"),
        FX.col("l_suppkey").cast("long").alias("c_long"),
        FX.col("l_extendedprice").cast("float").alias("c_float"),
        FX.col("l_extendedprice").cast("double").alias("c_double"),
        FX.col("l_extendedprice").cast("decimal(9,2)").alias("c_dec9"),
        FX.col("l_extendedprice").cast("decimal(18,6)").alias("c_dec18"),
        FX.col("l_extendedprice").cast("decimal(38,10)").alias("c_dec38"),
        FX.col("l_shipdate").cast("date").alias("c_date"),
        FX.col("l_shipdate").cast("timestamp_ntz").alias("c_ts_ntz"),
        FX.col("l_shipdate").cast("timestamp").alias("c_ts_tz"),
        FX.col("l_returnflag").alias("c_string"),
        FX.encode("l_returnflag", "utf-8").alias("c_binary"),
        FX.array("l_linenumber", "l_linenumber").alias("c_list"),
        FX.struct(FX.col("l_linenumber").alias("a"), FX.col("l_quantity").alias("b")).alias("c_struct"),
        FX.create_map(FX.lit("k"), FX.col("l_quantity")).alias("c_map"),
    )
    t = IcebergTable.create(spark, str(tmp_path / "alltypes"), df)
    back = t.scan()
    assert dict(back.dtypes) == dict(df.dtypes)
    flat = lambda d: d.select(  # noqa: E731 - map keys aren't comparable in exceptAll
        "*", FX.col("c_struct.a").alias("sa"), FX.map_values("c_map")[0].alias("mv")
    ).drop("c_struct", "c_map")
    assert flat(back).exceptAll(flat(df)).count() == 0
    assert flat(df).exceptAll(flat(back)).count() == 0
    # schema JSON parses back with nested types + field ids intact
    assert t.meta.schemas[0].columns[-1].spark_type.simpleString() == "map<string,double>"


def test_gzip_metadata_write_roundtrip(spark, tmp_path):
    """metadata_compression_codec='gzip' writes vN.metadata.json.gz that
    our reader (and the reference's codec param semantics) resolve."""
    import os

    from duckdb_iceberg_spark import IcebergTable, iceberg_scan

    df = spark.read.parquet(f"{SF}/region.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "gz"), df, metadata_compression_codec="gzip")
    t.delete_where("r_regionkey = 0")
    files = os.listdir(tmp_path / "gz" / "metadata")
    assert any(".gz.metadata.json" in f for f in files)
    assert not any(f.endswith(".metadata.json") and ".gz." not in f for f in files)
    got = iceberg_scan(spark, str(tmp_path / "gz"), metadata_compression_codec="gzip")
    assert got.count() == df.count() - 1
    assert t.snapshots().count() == 2
    assert t.metadata().count() >= 2


def test_incremental_scan_appends(spark, tmp_path):
    """CDC-style incremental consumption: only post-snapshot appends."""
    from duckdb_iceberg_spark import IcebergTable

    r = spark.read.parquet(f"{SF}/region.parquet")
    n = spark.read.parquet(f"{SF}/nation.parquet").select(
        F.col("n_nationkey").alias("r_regionkey"),
        F.col("n_name").alias("r_name"),
    )
    t = IcebergTable.create(spark, str(tmp_path / "inc"), r)
    snap0 = t.meta.latest_snapshot().snapshot_id
    t.append(n.filter("r_regionkey < 10"))
    snap1 = t.meta.latest_snapshot().snapshot_id
    t.append(n.filter("r_regionkey >= 10"))
    # everything since table creation = both appends
    assert t.scan_appends(snap0).count() == n.count()
    # only the second append
    got = t.scan_appends(snap1)
    assert got.count() == n.filter("r_regionkey >= 10").count()
    assert got.where("r_regionkey < 10").count() == 0
    # bounded window [snap0, snap1] = first append only
    assert t.scan_appends(snap0, until_snapshot_id=snap1).count() == n.filter("r_regionkey < 10").count()
    # a delete after the window start still applies to the increment
    t.delete_where("r_regionkey = 15")
    assert t.scan_appends(snap1).where("r_regionkey = 15").count() == 0


def test_merge_upsert(spark, tmp_path):
    """MERGE INTO: matched rows updated, unmatched source rows inserted,
    one atomic snapshot - differential vs a DuckDB-computed expectation."""
    from duckdb_iceberg_spark import IcebergTable

    r = spark.read.parquet(f"{SF}/region.parquet")  # r_regionkey, r_name, ...
    t = IcebergTable.create(spark, str(tmp_path / "m"), r.select("r_regionkey", "r_name"))
    src = spark.createDataFrame(
        [(0, "UPDATED_0"), (2, "UPDATED_2"), (99, "NEW_99"), (100, "NEW_100")],
        "r_regionkey int, r_name string",
    )
    t.merge(
        src,
        on="r_regionkey",
        when_matched_update={"r_name": "src.r_name"},
        when_not_matched_insert=True,
    )
    got = {(row.r_regionkey, row.r_name) for row in t.scan().collect()}
    base = {(row.r_regionkey, row.r_name) for row in r.select("r_regionkey", "r_name").collect()}
    want = {(k, v) for k, v in base if k not in (0, 2)} | {
        (0, "UPDATED_0"), (2, "UPDATED_2"), (99, "NEW_99"), (100, "NEW_100")
    }
    assert got == want
    # one snapshot for the whole merge
    assert t.meta.latest_snapshot().summary["operation"] == "overwrite"


def test_merge_delete_matched(spark, tmp_path):
    from duckdb_iceberg_spark import IcebergTable

    n = spark.read.parquet(f"{SF}/nation.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "md"), n)
    victims = spark.createDataFrame([(1,), (3,), (999,)], "n_nationkey int")
    t.merge(victims, on="n_nationkey", when_matched_delete=True, when_not_matched_insert=False)
    left = {row.n_nationkey for row in t.scan().collect()}
    assert left == {row.n_nationkey for row in n.collect()} - {1, 3}


def test_rollback_to_snapshot(spark, tmp_path):
    """rollback_to(): current pointer moves back, time travel still
    reaches the abandoned snapshot, history ancestry updates."""
    from duckdb_iceberg_spark import IcebergTable, iceberg_history

    base = spark.read.parquet(f"{SF}/region.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), base)
    snap1 = t.meta.latest_snapshot().snapshot_id
    t.append(base)
    snap2 = t.meta.latest_snapshot().snapshot_id
    assert t.scan().count() == 2 * base.count()

    t.rollback_to(snap1)
    assert t.meta.current_snapshot_id == snap1
    assert t.scan().count() == base.count()
    # abandoned snapshot still time-travelable
    assert t.scan(snapshot_id=snap2).count() == 2 * base.count()
    hist = {r.snapshot_id: r for r in iceberg_history(spark, str(tmp_path / "t")).collect()}
    assert hist[snap1].is_current_ancestor
    assert not hist[snap2].is_current_ancestor
    with pytest.raises(ValueError, match="Could not find snapshot"):
        t.rollback_to(12345)


def test_tags_and_branches(spark, tmp_path):
    """Refs: tag names a fixed snapshot readable after more writes;
    drop_ref removes it; unknown refs error."""
    from duckdb_iceberg_spark import IcebergTable

    base = spark.read.parquet(f"{SF}/region.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), base)
    t.create_tag("v1.0")
    t.append(base)
    t.create_branch("audit")
    assert t.scan(tag="v1.0").count() == base.count()
    assert t.scan(branch="audit").count() == 2 * base.count()
    assert t.scan().count() == 2 * base.count()
    assert t.refs()["v1.0"]["type"] == "tag"
    # refs survive reload from disk (they live in metadata.json)
    t2 = IcebergTable(spark, str(tmp_path / "t"))
    assert t2.scan(tag="v1.0").count() == base.count()
    t2.drop_ref("v1.0")
    with pytest.raises(ValueError, match="does not exist"):
        t2.scan(tag="v1.0")
    with pytest.raises(ValueError, match="Could not find snapshot"):
        t2.create_tag("bad", snapshot_id=999)


def test_add_files_imports_in_place(spark, tmp_path):
    """add_files registers external parquet without copying: scan sees
    the rows, file paths stay outside the table tree, zone maps from
    the imported footers prune."""
    from duckdb_iceberg_spark import IcebergTable, iceberg_scan

    region = spark.read.parquet(f"{SF}/region.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), region)
    ext = str(tmp_path / "external")
    nation = spark.read.parquet(f"{SF}/nation.parquet")
    nation.select(
        F.col("n_nationkey").alias("r_regionkey"), F.col("n_name").alias("r_name")
    ).coalesce(1).write.parquet(ext)
    files = [str(p) for p in (tmp_path / "external").glob("*.parquet")]
    t.add_files(files)
    assert t.scan().count() == region.count() + nation.count()
    # imported footers carry no parquet field ids: values must resolve
    # via the recorded name mapping, not read as all-NULL
    got_keys = sorted(r.r_regionkey for r in t.scan().collect())
    want_keys = sorted(
        [r.r_regionkey for r in region.collect()] + [r.n_nationkey for r in nation.collect()]
    )
    assert got_keys == want_keys
    listed = {r.file for r in t.scan(mode="list_files").collect()}
    assert set(files) <= listed
    # ref-based time travel reaches the pre-import state
    pre = t.meta.snapshots[0].snapshot_id
    t.create_tag("pre-import", pre)
    assert iceberg_scan(spark, str(tmp_path / "t"), ref="pre-import").count() == region.count()
    with pytest.raises(ValueError, match="missing table columns"):
        t.add_files([f"{SF}/orders.parquet"])


def test_add_files_rejects_unreadable_column_types(spark, tmp_path):
    """A parquet file whose timestamp column holds INT64 nanoseconds
    cannot be read as the table's microsecond timestamps: add_files
    raises and adds no snapshot. The same rows in microseconds add."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from duckdb_iceberg_spark import IcebergTable

    t = IcebergTable.create(spark, str(tmp_path / "t"), spark.createDataFrame([], "k long, ts timestamp"))
    snapshots = len(t.meta.snapshots)
    ts = [datetime.datetime(2024, 1, d, tzinfo=datetime.timezone.utc) for d in (1, 2)]
    for unit in ("ns", "us"):
        pq.write_table(
            pa.table({"k": pa.array([1, 2], pa.int64()), "ts": pa.array(ts, pa.timestamp(unit, tz="UTC"))}),
            str(tmp_path / f"{unit}.parquet"),
        )
    with pytest.raises(ValueError, match=r"ts: timestamp\[ns, tz=UTC\] vs timestamp\[us, tz=UTC\]"):
        t.add_files([str(tmp_path / "ns.parquet")])
    assert len(IcebergTable(spark, str(tmp_path / "t")).meta.snapshots) == snapshots
    t = IcebergTable(spark, str(tmp_path / "t"))
    t.add_files([str(tmp_path / "us.parquet")])
    assert sorted(r.ts.day for r in t.scan().collect()) == [1, 2]


def test_rewrite_manifests_merges_metadata_only(spark, tmp_path):
    """rewrite_manifests collapses N manifests -> 1 per content type,
    preserves entry sequence numbers (delete scoping), touches zero
    data files, and leaves the scan byte-identical."""
    from duckdb_iceberg_spark import IcebergTable
    from duckdb_iceberg_spark.plans.avro import read_avro_file
    from duckdb_iceberg_spark.plans.manifests import load_table_scan

    n = spark.read.parquet(f"{SF}/nation.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), n.filter("n_nationkey < 10"))
    t.append(n.filter("n_nationkey >= 10 AND n_nationkey < 20"))
    t.append(n.filter("n_nationkey >= 20"))
    t.delete_where("n_nationkey % 7 = 0")
    before = canon_rows(t.scan().columns, [tuple(r) for r in t.scan().collect()])
    data_paths_before = sorted(e.file_path for e in _live_entries(t))
    _, manifests_before = read_avro_file(t.meta.latest_snapshot().manifest_list)
    assert len(manifests_before) >= 4  # 3 data commits + 1 delete commit
    head = t.meta.latest_snapshot()

    t.rewrite_manifests()

    # the rewrite is a child of the pre-rewrite head: history stays one line
    snap = t.meta.latest_snapshot()
    assert snap.parent_snapshot_id == head.snapshot_id
    assert snap.sequence_number == head.sequence_number + 1
    hist = t.history().collect()
    assert len(hist) == 5 and all(r.is_current_ancestor for r in hist)
    _, manifests_after = read_avro_file(snap.manifest_list)
    by_content = {}
    for m in manifests_after:
        by_content.setdefault(m.get("content", 0) or 0, []).append(m)
    assert len(by_content[0]) == 1 and len(by_content[1]) == 1
    # all carried entries are EXISTING with their original sequence numbers
    _, entries = read_avro_file(by_content[0][0]["manifest_path"])
    assert {e["status"] for e in entries} == {0}
    assert len({e["sequence_number"] for e in entries}) == 3
    assert by_content[0][0]["min_sequence_number"] == 1
    # manifest-list counts come from the entries: EXISTING only
    for m in manifests_after:
        _, es = read_avro_file(m["manifest_path"])
        assert (m["sequence_number"], m["added_snapshot_id"]) == (snap.sequence_number, snap.snapshot_id)
        assert (m["added_files_count"], m["existing_files_count"], m["deleted_files_count"]) == (0, len(es), 0)
        assert (m["added_rows_count"], m["deleted_rows_count"]) == (0, 0)
        assert m["existing_rows_count"] == sum(e["data_file"]["record_count"] for e in es)
    # zero data movement: identical data file set, identical rows
    assert sorted(e.file_path for e in _live_entries(t)) == data_paths_before
    after = canon_rows(t.scan().columns, [tuple(r) for r in t.scan().collect()])
    assert before == after
    # deletes still applied post-merge
    assert t.scan().filter("n_nationkey % 7 = 0").count() == 0
    # time travel to pre-rewrite snapshot still works
    prev = t.meta.snapshots[-2].snapshot_id
    assert t.scan(snapshot_id=prev).count() == t.scan().count()


def test_changelog_manifest_diff_prunes_unchanged_files(spark, tmp_path):
    """scan_changelog returns the exact net diff AND its plan reads
    only changed files: the base snapshot's untouched data file never
    appears in the union's input files when no delete touches it."""
    from duckdb_iceberg_spark import IcebergTable

    n = spark.read.parquet(f"{SF}/nation.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), n.filter("n_nationkey < 15"))
    base = t.meta.latest_snapshot().snapshot_id
    t.append(n.filter("n_nationkey >= 15"))
    mid = t.meta.latest_snapshot().snapshot_id

    # append-only window: diff = pure inserts, base file not read
    cl = t.scan_changelog(base, mid)
    got = {(r.change_type, r.n_nationkey) for r in cl.collect()}
    assert got == {("insert", k) for k in range(15, 25)}
    base_files = {e.file_path for e in _live_entries_at(t, base)}
    read_files = {f.replace("file:", "") for f in cl.inputFiles()}
    assert not (base_files & read_files)

    # delete in the window drags common files back into the diff
    t.delete_where("n_nationkey % 4 = 0")
    cl2 = t.scan_changelog(base)
    got2 = {(r.change_type, r.n_nationkey) for r in cl2.collect()}
    want_ins = {("insert", k) for k in range(15, 25) if k % 4 != 0}
    want_del = {("delete", k) for k in range(0, 15) if k % 4 == 0}
    assert got2 == want_ins | want_del

    # identical endpoints -> empty changelog
    assert t.scan_changelog(t.meta.latest_snapshot().snapshot_id).count() == 0


def _live_entries_at(t, snapshot_id):
    from duckdb_iceberg_spark.plans.manifests import load_table_scan

    snap = t.meta.snapshot_by_id(snapshot_id)
    return load_table_scan(t.meta, snap, t.path, False).data_files()


def test_sorted_compaction_records_sort_order(spark, tmp_path):
    from duckdb_iceberg_spark import IcebergTable

    n = spark.read.parquet(f"{SF}/nation.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), n)
    t.rewrite_data_files(sort_by=["n_name"], target_file_size_bytes=1 << 30)
    doc = t.meta.raw
    assert doc["default-sort-order-id"] == 1
    order = next(o for o in doc["sort-orders"] if o["order-id"] == 1)
    name_id = next(c.field_id for c in t.schema.columns if c.name == "n_name")
    assert order["fields"] == [
        {"transform": "identity", "source-id": name_id, "direction": "asc", "null-order": "nulls-first"}
    ]
    assert t.scan().count() == n.count()


def test_changelog_equals_full_diff_random_histories(spark, tmp_path):
    """Randomized (seeded) mutation histories: the manifest-diff
    changelog must equal the naive full-table EXCEPT ALL diff for
    every snapshot pair, including windows spanning compactions."""
    import random

    from duckdb_iceberg_spark import IcebergTable

    rng = random.Random(42)
    cust = spark.read.parquet(f"{SF}/customer.parquet").select("c_custkey", "c_nationkey")
    for trial in range(3):
        t = IcebergTable.create(spark, str(tmp_path / f"t{trial}"), cust.filter("c_custkey % 3 = 0"))
        snaps = [t.meta.latest_snapshot().snapshot_id]
        for _ in range(4):
            op = rng.choice(["append", "delete", "compact", "eqdelete"])
            if op == "append":
                m = rng.randrange(2, 7)
                t.append(cust.filter(f"c_custkey % 3 = 1 AND c_custkey % {m} = 0"))
            elif op == "delete":
                m = rng.randrange(5, 12)
                t.delete_where(f"c_custkey % {m} = 0")
            elif op == "eqdelete":
                m = rng.randrange(4, 9)
                t.delete_where_equality(cust.filter(f"c_custkey % {m} = 1").select("c_custkey"))
            else:
                t.rewrite_data_files(target_file_size_bytes=1 << 30)
            snaps.append(t.meta.latest_snapshot().snapshot_id)
        a, b = sorted(rng.sample(range(len(snaps)), 2))
        old = t.scan(snapshot_id=snaps[a])
        new = t.scan(snapshot_id=snaps[b])
        want_ins = canon_rows(new.columns, [tuple(r) for r in new.exceptAll(old).collect()])
        want_del = canon_rows(old.columns, [tuple(r) for r in old.exceptAll(new).collect()])
        cl = t.scan_changelog(snaps[a], snaps[b])
        got_ins = canon_rows(
            cust.columns, [tuple(r)[1:] for r in cl.filter("change_type = 'insert'").collect()]
        )
        got_del = canon_rows(
            cust.columns, [tuple(r)[1:] for r in cl.filter("change_type = 'delete'").collect()]
        )
        assert got_ins == want_ins, f"trial {trial}: inserts diverge"
        assert got_del == want_del, f"trial {trial}: deletes diverge"


def test_expire_retains_ref_pinned_snapshots(spark, tmp_path):
    """A tagged snapshot survives count-based expiry (refs win), and
    the tag remains readable; untagged history is dropped."""
    from duckdb_iceberg_spark import IcebergTable

    n = spark.read.parquet(f"{SF}/nation.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), n)
    first = t.meta.latest_snapshot().snapshot_id
    t.create_tag("v1", first)
    t.delete_where("n_nationkey % 2 = 0")
    t.append(n.filter("n_nationkey = 0"))
    assert len(t.meta.snapshots) == 3
    t.expire_snapshots(keep_last=1)
    ids = {s.snapshot_id for s in t.meta.snapshots}
    assert first in ids  # pinned by tag
    assert len(ids) == 2  # latest + tagged; middle snapshot expired
    assert t.scan(tag="v1").count() == n.count()


def test_changelog_sees_equality_deletes(spark, tmp_path):
    """A delete_where_equality commit adds no data files and no
    positional deletes, yet the changelog across it must report
    exactly the removed rows as deletes (pins the r2 fix that unions
    equality-delete files into the snapshot diff)."""
    from duckdb_iceberg_spark import IcebergTable

    cust = spark.read.parquet(f"{SF}/customer.parquet").select("c_custkey", "c_nationkey")
    t = IcebergTable.create(spark, str(tmp_path / "t"), cust)
    base = t.meta.latest_snapshot().snapshot_id
    t.delete_where_equality(cust.filter("c_custkey % 10 = 3").select("c_custkey"))
    cl = t.scan_changelog(base)
    assert cl.filter("change_type = 'insert'").count() == 0
    got_del = canon_rows(
        cust.columns, [tuple(r)[1:] for r in cl.filter("change_type = 'delete'").collect()]
    )
    want = canon_rows(cust.columns, [tuple(r) for r in cust.filter("c_custkey % 10 = 3").collect()])
    assert got_del == want and len(want) > 0


def test_write_audit_publish_branch(spark, tmp_path):
    """WAP: append(to_branch=) stages snapshots on a branch ref —
    plain reads see nothing, scan(branch=) sees the staged data, and
    fast_forward publishes the branch head to main. Parent links
    chain through the branch."""
    from duckdb_iceberg_spark import IcebergTable

    n = spark.read.parquet(f"{SF}/nation.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), n.filter("n_nationkey < 10"))
    base = t.meta.latest_snapshot().snapshot_id
    t.append(n.filter("n_nationkey >= 10 AND n_nationkey < 20"), to_branch="audit")
    t.append(n.filter("n_nationkey >= 20"), to_branch="audit")
    # main head untouched; branch sees both staged appends
    assert t.scan().count() == 10
    assert t.meta.raw["current-snapshot-id"] == base
    assert t.scan(branch="audit").count() == n.count()
    # branch parent chain: audit head -> first staged -> base
    refs = t.meta.raw["refs"]
    head = {s["snapshot-id"]: s for s in t.meta.raw["snapshots"]}[refs["audit"]["snapshot-id"]]
    mid = head["parent-snapshot-id"]
    assert head["parent-snapshot-id"] != base
    assert {s["snapshot-id"]: s for s in t.meta.raw["snapshots"]}[mid]["parent-snapshot-id"] == base
    # publish
    t.fast_forward("audit")
    assert t.scan().count() == n.count()
    # tags cannot take writes
    t.create_tag("pin")
    with pytest.raises(ValueError, match="is a tag"):
        t.append(n.limit(1), to_branch="pin")
    with pytest.raises(ValueError, match="No branch"):
        t.fast_forward("nope")


def test_expire_older_than(spark, tmp_path):
    """expire_snapshots(older_than_ms=): snapshots at-or-after the
    cutoff survive regardless of keep_last; the current snapshot is
    never expired."""
    from duckdb_iceberg_spark import IcebergTable

    n = spark.read.parquet(f"{SF}/nation.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), n)
    t.append(n.limit(5))
    t.append(n.limit(3))
    snaps = sorted(t.meta.snapshots, key=lambda s: s.timestamp_ms)
    assert len(snaps) == 3
    cutoff = snaps[1].timestamp_ms  # keep the 2nd and 3rd
    t.expire_snapshots(keep_last=1, older_than_ms=cutoff)
    ids = {s.snapshot_id for s in t.meta.snapshots}
    assert snaps[0].snapshot_id not in ids
    assert {snaps[1].snapshot_id, snaps[2].snapshot_id} <= ids
    # older_than in the far future + keep_last=1 keeps only the head
    t.expire_snapshots(keep_last=1, older_than_ms=snaps[2].timestamp_ms + 10**9)
    assert {s.snapshot_id for s in t.meta.snapshots} == {snaps[2].snapshot_id}
    assert t.scan().count() == n.count() + 8


def test_remove_orphans_older_than_guard(spark, tmp_path):
    """The older_than safety window: freshly-written unreferenced
    files (a concurrent writer's pending commit) survive; with no
    cutoff they are removed."""
    import time

    from duckdb_iceberg_spark import IcebergTable

    n = spark.read.parquet(f"{SF}/nation.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), n)
    # simulate a concurrent writer's not-yet-committed data file
    stray = os.path.join(str(tmp_path / "t"), "data", "pending-commit.parquet")
    with open(stray, "wb") as f:
        f.write(b"PAR1 stub PAR1")
    removed = t.remove_orphan_files(older_than_ms=int(time.time() * 1000) - 60_000)
    assert stray not in [os.path.abspath(p) for p in removed]
    assert os.path.exists(stray)
    removed2 = t.remove_orphan_files()
    assert os.path.abspath(stray) in removed2
    assert t.scan().count() == n.count()


def test_fast_forward_requires_ancestor(spark, tmp_path):
    """fast_forward must refuse a non-fast-forward move: if main
    advanced after the branch was staged, publishing would silently
    drop the concurrent main commits — Iceberg's procedure errors,
    and so do we."""
    from duckdb_iceberg_spark import IcebergTable

    n = spark.read.parquet(f"{SF}/nation.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), n.filter("n_nationkey < 10"))
    t.append(n.filter("n_nationkey >= 10 AND n_nationkey < 20"), to_branch="audit")
    # main advances concurrently
    t.append(n.filter("n_nationkey >= 20"))
    with pytest.raises(ValueError, match="not an ancestor"):
        t.fast_forward("audit")
    # main head unchanged, branch still readable
    assert t.scan().count() == 10 + 5
    assert t.scan(branch="audit").count() == 20


def test_memory_fs_scan_write_commit_cas(spark, tmp_path):
    """Full metadata cycle over memory:// (the FS-abstraction seam the
    real S3 path plugs into): create a table whose METADATA lives in
    an in-process object store, register local parquet data files via
    add_files, scan it back through iceberg_scan, mutate schema, and
    race two committers through the commit CAS."""
    import pytest

    from duckdb_iceberg_spark import IcebergTable, iceberg_scan
    from duckdb_iceberg_spark.plans.fs import MemoryFS
    from duckdb_iceberg_spark.writer import CommitConflictError

    MemoryFS.clear()
    n = spark.read.parquet(f"{SF}/nation.parquet")
    # stage a data file locally (Spark must be able to read it)
    data_dir = str(tmp_path / "data")
    n.coalesce(1).write.parquet(data_dir)
    pq_files = [str(p) for p in (tmp_path / "data").glob("*.parquet")]

    t = IcebergTable.create(spark, "memory://tables/t", n.limit(0))
    t.add_files(pq_files)
    # scan resolves metadata through MemoryFS; data through Spark
    assert iceberg_scan(spark, "memory://tables/t").count() == n.count()
    got = {r.n_nationkey for r in t.scan().collect()}
    assert got == {r.n_nationkey for r in n.collect()}
    # data writes cannot go to memory:// — loud error, not silent corruption
    with pytest.raises(ValueError, match="Spark itself"):
        t.append(n)
    # metadata-only DDL cycles through the same FS
    t.add_column("note", "string")
    assert "note" in t.scan().columns
    # commit CAS: a second handle committing concurrently conflicts
    t2 = IcebergTable(spark, "memory://tables/t")
    t2.add_column("other", "int")
    with pytest.raises(CommitConflictError):
        t.add_column("clash", "int")  # stale handle: version already taken
    MemoryFS.clear()


def test_memory_fs_scans_hit_the_manifest_walk_cache(spark, tmp_path, monkeypatch):
    """The manifest-walk cache keys on the manifest-list path, so a
    table whose metadata lives on memory:// decodes its manifest list
    and manifests on the first scan of a snapshot and none after."""
    from duckdb_iceberg_spark import IcebergTable, iceberg_scan
    from duckdb_iceberg_spark.plans import manifests
    from duckdb_iceberg_spark.plans.fs import MemoryFS

    MemoryFS.clear()
    n = spark.read.parquet(f"{SF}/nation.parquet")
    t = IcebergTable.create(spark, "memory://tables/cached", n.limit(0))
    for i, part in enumerate(("n_nationkey < 10", "n_nationkey >= 10")):
        n.filter(part).coalesce(1).write.parquet(str(tmp_path / f"d{i}"))
        IcebergTable(spark, "memory://tables/cached").add_files([str(p) for p in (tmp_path / f"d{i}").glob("*.parquet")])
    decoded = []
    read = manifests.read_avro_file
    monkeypatch.setattr(manifests, "read_avro_file", lambda p: decoded.append(p) or read(p))
    counts = []
    for _ in range(3):
        before = len(decoded)
        assert iceberg_scan(spark, "memory://tables/cached").count() == n.count()
        counts.append(len(decoded) - before)
    assert counts[0] == 3 and counts[1:] == [0, 0]  # the list and two manifests, once
    MemoryFS.clear()


def test_v3_deletion_vector_writes(spark, tmp_path):
    """format_version=3 tables write Puffin deletion vectors instead
    of position-delete parquet: delete_where/update_where/merge all
    route through _write_position_deletes, a second delete on the same
    files MERGES (v3 spec: never two unmerged DVs for one data file —
    the newest must be a superset), and both scan paths agree."""
    from duckdb_iceberg_spark import iceberg_scan
    from duckdb_iceberg_spark.writer import IcebergTable
    from duckdb_iceberg_spark.plans.fs import read_range
    from duckdb_iceberg_spark.plans.manifests import load_table_scan
    from duckdb_iceberg_spark.plans.roaring import decode_dv_blob
    from duckdb_iceberg_spark.plans.table_metadata import load_table_metadata

    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    path = str(tmp_path / "t")
    t = IcebergTable.create(spark, path, n.limit(0), format_version=3)
    t.append(n)
    t = IcebergTable(spark, path)
    t.delete_where("n_nationkey % 5 = 0")
    got = sorted(r.n_nationkey for r in iceberg_scan(spark, path).collect())
    want = sorted(r.n_nationkey for r in n.collect() if r.n_nationkey % 5 != 0)
    assert got == want
    # every delete file is a Puffin DV, no parquet deletes
    lf = iceberg_scan(spark, path, mode="list_files").collect()
    dels = [r.file for r in lf if r.type == "delete"]
    assert dels and all(f.endswith(".puffin") for f in dels)
    # second delete -> merge rule: newest DV per file supersets older
    t = IcebergTable(spark, path)
    t.delete_where("n_nationkey % 5 = 1")
    got2 = sorted(r.n_nationkey for r in iceberg_scan(spark, path).collect())
    assert got2 == sorted(k for k in want if k % 5 != 1)
    assert got2 == sorted(
        r.n_nationkey for r in iceberg_scan(spark, path, io="arrow").collect()
    )
    meta = load_table_metadata(path)
    scan = load_table_scan(meta, meta.latest_snapshot(), path, False)
    by_ref: dict = {}
    for e in scan.positional_delete_files():
        assert e.content_offset is not None  # v3: DVs only
        pos = set(
            decode_dv_blob(
                read_range(e.file_path, e.content_offset, e.content_size)
            ).tolist()
        )
        by_ref.setdefault(e.referenced_data_file, []).append(
            (e.sequence_number, pos)
        )
    # v3 spec: at most ONE live DV per data file — the merged superset
    # supersedes the older DV, whose entry _commit tombstoned
    assert by_ref and all(len(lst) == 1 for lst in by_ref.values())
    live_pos = sum(len(lst[0][1]) for lst in by_ref.values())
    assert live_pos == 25 - len(got2)
    # summary counts only NEWLY deleted positions, not the merged-in
    # priors (second delete removed the %5==1 keys among live rows)
    last = meta.latest_snapshot().summary
    assert int(last["added-position-deletes"]) == len(want) - len(got2)
    assert int(last["total-position-deletes"]) == 25 - len(got2)
    # the superseded entry is still visible (status=DELETED) in the
    # manifest tree for incremental consumers, just not live
    statuses = [
        e.status
        for _, es in scan.manifests
        for e in es
        if e.content_offset is not None
    ]
    from duckdb_iceberg_spark.plans.manifests import EntryStatus

    assert EntryStatus.DELETED in statuses

    # manifest-list file/row counts are derived from entry statuses, for
    # every writer: an ADDED-only append manifest, a merged
    # rewrite_manifests manifest (EXISTING only) and a tombstoned DV
    # manifest (EXISTING + DELETED)
    from duckdb_iceberg_spark.plans.avro import read_avro_file

    def counts(m):
        return tuple(m[f"{k}_{n}_count"] for n in ("files", "rows") for k in ("added", "existing", "deleted"))

    def manifests(t):
        _, ml = read_avro_file(t.meta.latest_snapshot().manifest_list)
        return [(m, read_avro_file(m["manifest_path"])[1]) for m in ml]

    t = IcebergTable(spark, path)
    t.append(n.filter("n_nationkey < 5").withColumn("n_nationkey", F.col("n_nationkey") + 100))
    appended = manifests(t)[-1]
    assert counts(appended[0]) == (1, 0, 0, 5, 0, 0)
    assert {e["status"] for e in appended[1]} == {1}
    t.delete_where("n_nationkey % 5 = 2")  # one DV per data file
    t.rewrite_manifests()
    merged = [(m, es) for m, es in manifests(t) if m["content"] == 1]
    assert len(merged) == 1 and {e["status"] for e in merged[0][1]} == {0}
    dv_rows = {e["data_file"]["referenced_data_file"]: e["data_file"]["record_count"] for e in merged[0][1]}
    assert counts(merged[0][0]) == (0, 2, 0, 0, sum(dv_rows.values()), 0)
    t.delete_where("n_nationkey = 103")  # supersedes only the new file's DV
    tomb = [(m, es) for m, es in manifests(t) if m["content"] == 1 and m["deleted_files_count"]]
    assert len(tomb) == 1 and sorted(e["status"] for e in tomb[0][1]) == [0, 2]
    gone = next(e for e in tomb[0][1] if e["status"] == 2)["data_file"]["referenced_data_file"]
    assert counts(tomb[0][0]) == (0, 1, 1, 0, sum(dv_rows.values()) - dv_rows[gone], dv_rows[gone])
    assert dv_rows[gone] == 1
    assert sorted(r.n_nationkey for r in iceberg_scan(spark, path).collect()) == sorted(
        [k for k in got2 if k % 5 != 2] + [100, 101, 104]
    )


def test_v3_row_lineage(spark, tmp_path):
    """v3 row lineage: first_row_id chains across commits off
    next-row-id, ids survive deletes, and overwrite_partitions CARRIES
    untouched files' ids while giving replaced partitions fresh ones."""
    from duckdb_iceberg_spark import iceberg_scan
    from duckdb_iceberg_spark.writer import IcebergTable

    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    path = str(tmp_path / "t")
    t = IcebergTable.create(spark, path, n.limit(0), format_version=3)
    t.append(n.filter("n_nationkey < 10").orderBy("n_nationkey").coalesce(1))
    t = IcebergTable(spark, path)
    t.append(n.filter("n_nationkey >= 10").orderBy("n_nationkey").coalesce(1))
    t = IcebergTable(spark, path)
    assert t.meta.raw["next-row-id"] == 25
    t.delete_where("n_nationkey % 4 = 0")
    df = iceberg_scan(spark, path, row_lineage=True)
    rows = {r.n_nationkey: (r._row_id, r._last_updated_sequence_number) for r in df.collect()}
    assert 0 not in rows and 4 not in rows  # deleted
    ids = [rid for rid, _ in rows.values()]
    assert len(ids) == len(set(ids))  # unique
    assert rows[1][0] == 1 and rows[10][0] == 10  # chained across commits
    # two distinct committing sequence numbers, second append higher
    assert rows[15][1] > rows[1][1]
    # partitioned overwrite: untouched partition keeps its ids
    p2 = str(tmp_path / "p")
    docs = n.withColumn("grp", (F.col("n_nationkey") % 2).cast("int"))
    t2 = IcebergTable.create(spark, p2, docs.limit(0), partition_by=["grp"], format_version=3)
    t2.append(docs.orderBy("n_nationkey").coalesce(1))
    t2 = IcebergTable(spark, p2)
    before = {
        r.n_nationkey: r._row_id
        for r in iceberg_scan(spark, p2, row_lineage=True).collect()
        if r.grp == 0
    }
    t2.overwrite_partitions(docs.filter("grp = 1").withColumn("n_name", F.lit("X")))
    after = {
        r.n_nationkey: r._row_id
        for r in iceberg_scan(spark, p2, row_lineage=True).collect()
        if r.grp == 0
    }
    assert after == before


def test_v3_lineage_manifest_level_inheritance(spark, tmp_path):
    """Foreign spec-conformant v3 writers leave the per-file
    first_row_id NULL and stamp only the manifest-list entry's
    first_row_id (spec field 520); readers assign per-file ids by
    inheritance — manifest first_row_id + cumulative record counts of
    preceding null-id data files. Simulate such a table by nulling the
    per-file ids our writer wrote (manifest-level values stay) and
    assert the scan still produces identical _row_id values."""
    import json as _json

    from duckdb_iceberg_spark import iceberg_scan
    from duckdb_iceberg_spark.plans.avro import read_avro_file, write_avro_file
    from duckdb_iceberg_spark.writer import IcebergTable

    n = spark.read.parquet("/root/testdata/sf0.001/nation.parquet")
    path = str(tmp_path / "t")
    t = IcebergTable.create(spark, path, n.limit(0), format_version=3)
    t.append(n.filter("n_nationkey < 10").orderBy("n_nationkey").repartition(3))
    t = IcebergTable(spark, path)
    t.append(n.filter("n_nationkey >= 10").orderBy("n_nationkey").repartition(2))
    want = {
        r.n_nationkey: r._row_id
        for r in iceberg_scan(spark, path, row_lineage=True).collect()
    }
    assert sorted(want.values()) == list(range(25))
    # strip the per-file ids in every data manifest, foreign-writer style
    t = IcebergTable(spark, path)
    ml = t.meta.latest_snapshot().manifest_list
    ml_meta, ml_records = read_avro_file(ml)
    touched = 0
    for m in ml_records:
        if (m.get("content", 0) or 0) != 0:
            continue
        assert m.get("first_row_id") is not None  # writer stamps field 520
        mmeta, entries = read_avro_file(m["manifest_path"])
        for e in entries:
            e["data_file"]["first_row_id"] = None
        schema = _json.loads(
            mmeta["avro.schema"].decode()
            if isinstance(mmeta["avro.schema"], bytes)
            else mmeta["avro.schema"]
        )
        write_avro_file(
            m["manifest_path"],
            schema,
            entries,
            metadata={
                k: (v.decode() if isinstance(v, bytes) else v)
                for k, v in mmeta.items()
                if k != "avro.schema" and not k.startswith("avro.")
            },
        )
        touched += 1
    assert touched == 2
    from duckdb_iceberg_spark.plans.manifests import _METADATA_CACHE

    _METADATA_CACHE.clear()  # files rewritten in place
    got = {
        r.n_nationkey: r._row_id
        for r in iceberg_scan(spark, path, row_lineage=True).collect()
    }
    assert got == want
    # rewrite_manifests carries the inherited ids into the merged
    # manifest (made explicit) and commits a v3 snapshot
    t = IcebergTable(spark, path)
    t.rewrite_manifests()
    snap = next(s for s in t.meta.raw["snapshots"] if s["snapshot-id"] == t.meta.current_snapshot_id)
    assert snap["first-row-id"] == 25
    ml_meta, ml_records = read_avro_file(snap["manifest-list"])
    assert ml_meta["format-version"] == b"3"
    assert [m["first_row_id"] for m in ml_records] == [0]
    mmeta, entries = read_avro_file(ml_records[0]["manifest_path"])
    assert mmeta["format-version"] == b"3"
    assert len(entries) == 5 and all(e["data_file"]["first_row_id"] is not None for e in entries)
    got = {
        r.n_nationkey: r._row_id
        for r in iceberg_scan(spark, path, row_lineage=True).collect()
    }
    assert got == want


def test_v3_variant_roundtrip(spark, tmp_path):
    """Iceberg v3 `variant` <-> Spark 4 VariantType: CTAS a v3 table
    with a variant payload, DV-delete rows, scan back and shred with
    variant_get; footer stats fall back gracefully where pyarrow
    cannot parse the VARIANT logical type (counted via Spark, no
    bounds — files without stats are never pruned)."""
    from duckdb_iceberg_spark import iceberg_scan
    from duckdb_iceberg_spark.writer import IcebergTable

    df = spark.range(10).select(
        F.col("id").alias("k"),
        F.parse_json(
            F.concat(F.lit('{"a": '), F.col("id").cast("string"), F.lit(', "m": {"ok": true}}'))
        ).alias("payload"),
    )
    path = str(tmp_path / "t")
    t = IcebergTable.create(spark, path, df, format_version=3)
    assert '"type": "variant"' in __import__("json").dumps(t.meta.raw["schemas"][0]).replace("'", '"') or any(
        f.get("type") == "variant" for f in t.meta.raw["schemas"][0]["fields"]
    )
    t.delete_where("k % 2 = 0")
    back = iceberg_scan(spark, path)
    rows = back.select(
        "k", F.variant_get("payload", "$.a", "long").alias("a"),
        F.variant_get("payload", "$.m.ok", "boolean").alias("ok"),
    ).collect()
    assert sorted(r.k for r in rows) == [1, 3, 5, 7, 9]
    assert all(r.a == r.k and r.ok for r in rows)


def test_v3_variant_arrow_path(spark, tmp_path):
    """io='arrow' on a v3 variant table: pyarrow cannot parse Spark's
    VARIANT parquet annotation, so the reader falls back to in-process
    DuckDB and REASSEMBLES the shredded groups (metadata / residual
    value / typed_value) into canonical variant binaries via
    plans/variant — variant_get then works identically to the default
    path, composing with deletion vectors."""
    from duckdb_iceberg_spark import iceberg_scan
    from duckdb_iceberg_spark.writer import IcebergTable

    df = spark.range(10).select(
        F.col("id").alias("k"),
        F.parse_json(
            F.concat(
                F.lit('{"a": '), F.col("id").cast("string"),
                F.lit(', "m": {"ok": true}, "tag": "t'), F.col("id").cast("string"),
                F.lit('"}'),
            )
        ).alias("payload"),
    )
    path = str(tmp_path / "t")
    t = IcebergTable.create(spark, path, df, format_version=3)
    t.delete_where("k % 2 = 0")
    want = {
        (r.k, r.a, r.ok, r.tag)
        for r in iceberg_scan(spark, path)
        .select(
            "k",
            F.variant_get("payload", "$.a", "long").alias("a"),
            F.variant_get("payload", "$.m.ok", "boolean").alias("ok"),
            F.variant_get("payload", "$.tag", "string").alias("tag"),
        )
        .collect()
    }
    got = {
        (r.k, r.a, r.ok, r.tag)
        for r in iceberg_scan(spark, path, io="arrow")
        .select(
            "k",
            F.variant_get("payload", "$.a", "long").alias("a"),
            F.variant_get("payload", "$.m.ok", "boolean").alias("ok"),
            F.variant_get("payload", "$.tag", "string").alias("tag"),
        )
        .collect()
    }
    assert got == want and len(got) == 5


def test_variant_get_shredded_pushdown(spark, tmp_path):
    """variant_get over an iceberg_scan prunes the parquet read to the
    requested SHREDDED subfield (Spark 4 writes shredded variant and
    its reader pushes extraction into the typed column) — the scan
    must not materialize the full variant binary for a single-path
    extraction."""
    import re

    from duckdb_iceberg_spark import iceberg_scan
    from duckdb_iceberg_spark.writer import IcebergTable

    df = spark.range(20).select(
        F.col("id").alias("k"),
        F.parse_json(
            F.concat(
                F.lit('{"a": '), F.col("id").cast("string"),
                F.lit(', "blob": "'), F.lit("x" * 50), F.lit('"}'),
            )
        ).alias("payload"),
    )
    path = str(tmp_path / "t")
    IcebergTable.create(spark, path, df, format_version=3)
    out = iceberg_scan(spark, path).select(
        "k", F.variant_get("payload", "$.a", "long").alias("a")
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"ReadSchema: (\S+)", plan)
    assert m, plan
    # the pruned schema carries the shredded field ordinal, not the
    # full value/metadata binaries
    assert "metadata" not in m.group(1) and "value" not in m.group(1), m.group(1)
    assert sorted(r.a for r in out.collect()) == list(range(20))


def test_position_delete_files_unique_and_sorted(spark, tmp_path):
    """Position-delete files hold each (file_path, pos) once, sorted by
    both, as the spec asks: also when a merge source repeats a key, so
    the same target row matches twice."""
    import pyarrow.parquet as pq

    from duckdb_iceberg_spark import IcebergTable, iceberg_scan
    from duckdb_iceberg_spark.plans.manifests import load_table_scan

    path = str(tmp_path / "t")
    t = IcebergTable.create(
        spark, path, spark.range(100).selectExpr("id AS k", "CAST(id % 7 AS STRING) AS v").repartition(3)
    )
    t.delete_where("k % 10 = 0")
    src = spark.createDataFrame([(k,) for k in (1, 1, 2, 2, 2, 55, 999)], "k long")
    IcebergTable(spark, path).merge(src, on="k", when_matched_delete=True, when_not_matched_insert=False)
    t = IcebergTable(spark, path)
    scan = load_table_scan(t.meta, t.meta.latest_snapshot(), path, False)
    commits = {}
    for e in scan.positional_delete_files():
        rows = pq.read_table(e.file_path).to_pylist()
        pairs = [(r["file_path"], r["pos"]) for r in rows]
        assert pairs == sorted(set(pairs))
        assert e.record_count == len(pairs)
        commits.setdefault(e.sequence_number, []).extend(pairs)
    assert sorted(len(v) for v in commits.values()) == [3, 10]
    assert sorted(r.k for r in iceberg_scan(spark, path).collect()) == [
        k for k in range(100) if k % 10 and k not in (1, 2, 55)
    ]
    assert t.meta.latest_snapshot().summary["added-position-deletes"] == "3"


@pytest.mark.parametrize("format_version", [2, 3])
def test_row_level_commits_on_table_without_data_files(spark, tmp_path, format_version):
    """A table created from an empty DataFrame has a snapshot with no
    data files: a delete or update on it commits nothing, and a merge
    into it (the upsert bootstrap) inserts the source."""
    from duckdb_iceberg_spark import IcebergTable

    path = str(tmp_path / "t")
    t = IcebergTable.create(
        spark, path, spark.createDataFrame([], "k long, v string"), format_version=format_version
    )
    snaps = len(t.meta.snapshots)
    t.delete_where("k < 3")
    t.delete_where(F.col("k") < 3)
    t.update_where("k = 1", {"v": "'x'"})
    assert len(IcebergTable(spark, path).meta.snapshots) == snaps
    src = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    t.merge(src, on="k", when_matched_update={"v": "src.v"})
    t = IcebergTable(spark, path)
    assert len(t.meta.snapshots) == snaps + 1
    assert sorted(map(tuple, t.scan().collect())) == [(1, "a"), (2, "b")]


def _leaf_classes(df):
    leaves = df._jdf.queryExecution().sparkPlan().collectLeaves()
    return [leaves.apply(i).getClass().getSimpleName() for i in range(leaves.size())]


def test_merge_one_data_write_and_raw_target_uri(spark, tmp_path, monkeypatch):
    """A merge with update and insert makes two parquet writes, one of
    position deletes and one of data files holding both the updated
    and the inserted rows. The matched frame it hands to the
    position-delete write keeps Spark's raw file URI: its plan runs no
    URL decode or regex, which only the deleted rows pay inside the
    write. The data write of an update_where, of an update-and-insert
    merge and of a delete-and-insert merge reads the target rows the
    position-delete write cached, and scans no parquet file."""
    from duckdb_iceberg_spark import IcebergTable

    path = str(tmp_path / "t")
    IcebergTable.create(spark, path, spark.range(50).selectExpr("id AS k", "CAST(id AS STRING) AS v"))
    writes, deleted = [], []
    write_files, write_deletes = IcebergTable._write_parquet_files, IcebergTable._write_position_deletes

    def spy_files(self, df, *args, **kwargs):
        writes.append(_leaf_classes(df))  # planned while the cache is live
        return write_files(self, df, *args, **kwargs)

    def spy_deletes(self, matched):
        deleted.append(matched)
        return write_deletes(self, matched)

    monkeypatch.setattr(IcebergTable, "_write_parquet_files", spy_files)
    monkeypatch.setattr(IcebergTable, "_write_position_deletes", spy_deletes)
    src = spark.createDataFrame([(3, "x"), (4, "y"), (77, "z")], "k long, v string")
    t = IcebergTable(spark, path)
    t.merge(src, on="k", when_matched_update={"v": "src.v"})
    assert len(deleted) == 1
    plan = deleted[0]._jdf.queryExecution().executedPlan().toString()
    for fn in ("UrlCodec", "url_decode", "regexp_replace"):
        assert fn not in plan, plan
    assert len(writes) == 2
    got = dict(map(tuple, IcebergTable(spark, path).scan().collect()))
    assert got == {**{k: str(k) for k in range(50)}, 3: "x", 4: "y", 77: "z"}
    data_writes = [writes[1]]
    gone = spark.createDataFrame([(5, "-"), (5, "-"), (78, "w")], "k long, v string")
    for op in (
        lambda t: t.update_where("k < 3", {"v": "'u'"}),
        lambda t: t.merge(gone, on="k", when_matched_delete=True),
    ):
        writes.clear()
        op(IcebergTable(spark, path))
        assert len(writes) == 2
        data_writes.append(writes[1])
    for leaves in data_writes:
        assert "FileSourceScanExec" not in leaves and "InMemoryTableScanExec" in leaves, leaves
    got = dict(map(tuple, IcebergTable(spark, path).scan().collect()))
    assert got == {**{k: str(k) for k in range(50) if k != 5}, 0: "u", 1: "u", 2: "u", 3: "x", 4: "y", 77: "z", 78: "w"}


@pytest.mark.parametrize("format_version", [2, 3])
def test_merge_duplicate_match_raises_and_commits_nothing(spark, tmp_path, format_version):
    """Under when_matched_update, a target row matched by two source
    rows raises SQL MERGE's cardinality error. Nothing is committed: the
    metadata version, the snapshots and the files under data/ are
    unchanged, and the failed write leaves no staging directory."""
    from duckdb_iceberg_spark import IcebergTable

    path = str(tmp_path / "t")
    t = IcebergTable.create(
        spark, path, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), format_version=format_version
    )

    def state(t):
        files = {os.path.join(r, n) for r, _d, names in os.walk(os.path.join(path, "data")) for n in names}
        return t.meta.metadata_path, [s.snapshot_id for s in t.meta.snapshots], files

    before = state(t)
    src = spark.createDataFrame([(1, "x"), (1, "y"), (3, "z")], "k long, v string")
    with pytest.raises(Exception, match="(?s)MERGE.*cardinality"):
        t.merge(src, on="k", when_matched_update={"v": "src.v"})
    assert state(IcebergTable(spark, path)) == before
    assert sorted(os.listdir(path)) == ["data", "metadata"]


@pytest.mark.parametrize("format_version", [2, 3])
def test_merge_null_key_is_inserted_not_matched(spark, tmp_path, format_version):
    """Keys match with ``=``, as in SQL MERGE: a NULL-key source row
    matches no target row, not even a NULL-key one, and is inserted."""
    from duckdb_iceberg_spark import IcebergTable

    path = str(tmp_path / "t")
    t = IcebergTable.create(
        spark, path, spark.createDataFrame([(None, "t0"), (1, "t1")], "k long, v string"),
        format_version=format_version,
    )
    t.merge(spark.createDataFrame([(None, "s0"), (1, "s1")], "k long, v string"), on="k", when_matched_update={"v": "src.v"})
    rows = sorted(map(tuple, IcebergTable(spark, path).scan().collect()), key=str)
    assert rows == [(1, "s1"), (None, "s0"), (None, "t0")]


def test_sql_delete_prunes_target_files(spark, tmp_path, caplog):
    """A SQL-string delete_where scans only the data files whose column
    bounds can match, and reports its commit in one DEBUG event."""
    import logging

    from duckdb_iceberg_spark import IcebergTable
    from duckdb_iceberg_spark.sources import iceberg as SRC

    path = str(tmp_path / "t")
    # 8 slices of 10 consecutive keys: one data file each
    t = IcebergTable.create(spark, path, spark.range(0, 80, 1, 8).selectExpr("id AS k"))
    SRC._READ_CACHE.clear()
    caplog.set_level(logging.DEBUG, logger="duckdb_iceberg_spark")
    t.delete_where("k < 10")
    relations = [r.files for r in caplog.records if r.name == "duckdb_iceberg_spark" and hasattr(r, "listed")]
    assert relations == [1]
    commits = [r for r in caplog.records if r.name == "duckdb_iceberg_spark" and hasattr(r, "deleted_positions")]
    assert [(r.operation, r.data_files, r.delete_files, r.deleted_positions) for r in commits] == [
        ("delete", 0, 1, 10)
    ]
    assert sorted(r.k for r in IcebergTable(spark, path).scan().collect()) == list(range(10, 80))


def test_column_or_and_in_deletes_prune_target_files(spark, tmp_path, caplog):
    """A Column condition, an OR of two ranges and an IN-list prune the
    delete_where target scan to the data files that hold matching keys,
    as the SQL ``k < 10`` does, each reported by one ``where pruning``
    event."""
    import logging

    from duckdb_iceberg_spark import IcebergTable
    from duckdb_iceberg_spark.sources import iceberg as SRC

    caplog.set_level(logging.DEBUG, logger="duckdb_iceberg_spark")
    for i, (condition, keys) in enumerate(
        [(F.col("k") < 10, range(10)), ("k < 10 OR k >= 70", [*range(10), *range(70, 80)]), ("k IN (5, 75)", [5, 75])]
    ):
        path = str(tmp_path / f"t{i}")
        # 8 slices of 10 consecutive keys: one data file each
        t = IcebergTable.create(spark, path, spark.range(0, 80, 1, 8).selectExpr("id AS k"))
        SRC._READ_CACHE.clear()
        caplog.clear()
        t.delete_where(condition)
        files = len({k // 10 for k in keys})
        assert [r.files for r in caplog.records if hasattr(r, "listed")] == [files], condition
        (ev,) = [r for r in caplog.records if hasattr(r, "residual_proven")]
        assert (ev.files_before, ev.files_after, ev.residual_proven) == (8, files, False)
        left = sorted(r.k for r in IcebergTable(spark, path).scan().collect())
        assert left == sorted(set(range(80)) - set(keys))


def test_scan_appends_matches_raw_uris(spark, tmp_path):
    """scan_appends and scan_changelog keep the files they name by the
    URIs Spark reports for them, worked out on the driver: the plan
    decodes no row, and the rows are the appended ones under a table
    root whose name Spark percent-encodes (a space, '#', '%', '+')."""
    from duckdb_iceberg_spark import IcebergTable

    path = str(tmp_path / "a b#c%d+e" / "t")
    t = IcebergTable.create(spark, path, spark.range(0, 40, 1, 4).selectExpr("id AS k"))
    snap0 = t.meta.latest_snapshot().snapshot_id
    IcebergTable(spark, path).append(spark.range(40, 50, 1, 2).selectExpr("id AS k"))
    df = IcebergTable(spark, path).scan_appends(snap0)
    plan = df._jdf.queryExecution().executedPlan().toString()
    for fn in ("UrlCodec", "url_decode", "regexp_replace"):
        assert fn not in plan, plan
    assert sorted(r.k for r in df.collect()) == list(range(40, 50))
    IcebergTable(spark, path).delete_where("k IN (3, 45)")
    t = IcebergTable(spark, path)
    assert sorted(r.k for r in t.scan_appends(snap0).collect()) == [k for k in range(40, 50) if k != 45]
    changes = sorted((r.change_type, r.k) for r in t.scan_changelog(snap0).collect())
    assert changes == [("delete", 3)] + [("insert", k) for k in range(40, 50) if k != 45]


def test_sql_row_level_writes_compare_columns(spark, tmp_path):
    """A SQL condition that compares two columns (a bare word on the
    right, not a quoted literal) prunes no target file: update_where
    and delete_where reach the matching row of every file, as Spark's
    own filter does."""
    from duckdb_iceberg_spark import IcebergTable

    path = str(tmp_path / "t")
    # 4 files with disjoint bounds on a; one row per file has a = b
    df = spark.range(0, 40, 1, 4).selectExpr(
        "id AS k", "lpad(CAST(id AS STRING), 3, '0') AS a",
        "IF(id % 10 = 3, lpad(CAST(id AS STRING), 3, '0'), 'zzz') AS b", "'v' AS v",
    )
    t = IcebergTable.create(spark, path, df)
    t.update_where("a = b", {"v": "'u'"})
    rows = IcebergTable(spark, path).scan().collect()
    assert sorted(r.k for r in rows if r.v == "u") == [3, 13, 23, 33]
    t = IcebergTable(spark, path)
    t.delete_where("a IN (b, 'none')")
    assert sorted(r.k for r in IcebergTable(spark, path).scan().collect()) == [
        k for k in range(40) if k % 10 != 3
    ]


def test_sql_delete_reads_timestamps_in_session_time_zone(spark, tmp_path):
    """A zoneless timestamp literal in a delete_where condition is
    session-zone wall-clock time, as in Spark's own filter. In a Los
    Angeles session, ``ts < '2024-01-01 00:00:00'`` holds up to 08:00
    UTC, so pruning must keep the file whose row sits at 07:30 UTC
    (the writer's INT64 timestamps give the files column bounds). A
    days(ts) partition is the UTC day, whatever the session zone."""
    from duckdb_iceberg_spark import IcebergTable
    from duckdb_iceberg_spark.plans.manifests import load_table_scan

    # one row per file: 2024-01-01 07:30 UTC and 09:00 UTC
    df = spark.range(0, 2, 1, 2).selectExpr("id AS k", "timestamp_seconds(1704094200 + id * 5400) AS ts")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        for i, partition_by in enumerate([None, [("days", "ts")]]):
            path = str(tmp_path / f"t{i}")
            t = IcebergTable.create(spark, path, df, partition_by=partition_by)
            t.delete_where("ts < '2024-01-01 00:00:00'")
            t = IcebergTable(spark, path)
            assert [r.k for r in t.scan().collect()] == [1], partition_by
        files = load_table_scan(t.meta, t.meta.latest_snapshot(), path).data_files()
        assert sorted(e.partition["ts_day"] for e in files) == [19723, 19723]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
