"""Partitioned writes + manifest-level partition pruning.

The reference reads partition data but never prunes (its partial Avro
schemas drop the partition field — SURVEY.md §4). We write real
Iceberg partition specs (identity/temporal/bucket/truncate hidden
partitioning, as the reference's provisioner does with days(dt),
reference scripts/provision.py:92) and prune files before the
DataFrame exists.
"""

import os
import sys
from pathlib import Path

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).parent))

SF = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def events(spark):
    from duckdb_iceberg_spark.session import normalize_event_ts

    return normalize_event_ts(spark.read.parquet(f"{SF}/events.parquet"))


def _mk(spark, tmp, df, partition_by):
    from duckdb_iceberg_spark import IcebergTable

    return IcebergTable.create(spark, str(tmp / "t"), df, partition_by=partition_by)


def test_identity_partition_roundtrip_and_prune(spark, tmp_path, events):
    t = _mk(spark, tmp_path, events, ["event_type"])
    assert t.scan().count() == events.count()
    # partition dirs exist, source column still inside the files
    assert any("_p_event_type=" in str(p) for p in (tmp_path / "t" / "data").iterdir())
    full = t.scan()
    assert "event_type" in full.columns
    pruned = t.scan(partition_filter={"event_type": "click"})
    expected = events.filter(F.col("event_type") == "click").count()
    assert pruned.count() == expected
    # pruning happened at file level, not just row filter
    n_all = len(t.scan(mode="list_files").collect())
    n_pruned = len(t.scan(mode="list_files", partition_filter={"event_type": "click"}).collect())
    assert n_pruned < n_all


def test_days_partition_hidden_prune(spark, tmp_path, events):
    import datetime

    t = _mk(spark, tmp_path, events, [("days", "ts")])
    assert t.scan().count() == events.count()
    day = events.select(F.to_date("ts").alias("d")).first()["d"]
    pruned = t.scan(partition_filter={"ts": datetime.datetime.combine(day, datetime.time())})
    expected = events.filter(F.to_date("ts") == F.lit(day)).count()
    assert pruned.count() == expected
    assert expected > 0


@pytest.mark.parametrize("spec_name", ["day", "days"])
def test_day_spec_names_append_and_prune(spark, tmp_path, spec_name):
    """A table whose spec says ``day``, as the Iceberg spec and Spark-
    or Java-written tables do, or the ``days`` this package wrote
    before, takes an append and prunes under ``partition_filter``."""
    import copy
    import datetime

    from duckdb_iceberg_spark import IcebergTable

    path = str(tmp_path / "t")
    # one row per UTC day from 2024-01-01, one file per day
    df = spark.range(0, 4, 1, 2).selectExpr("id AS k", "timestamp_seconds(1704067200 + id * 86400) AS ts")
    t = IcebergTable.create(spark, path, df, partition_by=[("days", "ts")])
    doc = copy.deepcopy(t.meta.raw)
    doc["partition-specs"][0]["fields"][0]["transform"] = spec_name
    t._write_metadata(doc)
    IcebergTable(spark, path).append(df.selectExpr("k + 4 AS k", "ts + INTERVAL 4 DAYS AS ts"))
    t = IcebergTable(spark, path)
    assert sorted(r.k for r in t.scan().collect()) == list(range(8))
    day = {"ts": datetime.datetime(2024, 1, 3)}
    assert len(t.scan(mode="list_files", partition_filter=day).collect()) == 1
    assert [r.k for r in t.scan(partition_filter=day).collect()] == [2]
    assert len(t.scan(mode="list_files").collect()) == 8


def test_bucket_partition(spark, tmp_path, events):
    t = _mk(spark, tmp_path, events, [("bucket", 8, "user_id")])
    assert t.scan().count() == events.count()
    uid = events.select("user_id").first()["user_id"]
    pruned = t.scan(partition_filter={"user_id": uid})
    got = pruned.filter(F.col("user_id") == uid).count()
    expected = events.filter(F.col("user_id") == uid).count()
    assert got == expected
    # the bucket holds at most 1/8-ish of the data (files pruned)
    assert pruned.count() < events.count()


def test_bucket_partition_on_timestamps(spark, tmp_path):
    """bucket(N) over a timestamp column hashes its epoch micros on the
    JVM as bucket_value does for the literal pruning sees (a
    timestamp_ntz its wall-clock micros, whatever the session zone), so
    a create round-trips and an equality prunes to its bucket."""
    import datetime

    from duckdb_iceberg_spark import IcebergTable
    from duckdb_iceberg_spark.plans.transforms import bucket_column, bucket_value

    # not spark.range: its generated code fails beside the bucket hash (IllegalAccessError)
    df = spark.createDataFrame([(i,) for i in range(40)], "id long").repartition(2).selectExpr(
        "id AS k", "timestamp_seconds(1710000000 + id * 4000) AS ts",
        "CAST(timestamp_seconds(1710000000 + id * 4000) AS timestamp_ntz) AS ntz",
    )
    epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        rows = df.select(
            F.unix_micros("ts").alias("us"), "ntz",
            bucket_column(F.col("ts"), 4, "timestamp").alias("b"),
            bucket_column(F.col("ntz"), 4, "timestamp_ntz").alias("bn"),
        ).collect()
        for r in rows:
            assert r.b == bucket_value(epoch + datetime.timedelta(microseconds=r.us), 4)
            assert r.bn == bucket_value(r.ntz, 4)
        t = IcebergTable.create(spark, str(tmp_path / "t"), df, partition_by=[("bucket", 4, "ts")])
        assert sorted(r.k for r in t.scan().collect()) == list(range(40))
        w = "ts = TIMESTAMP '2024-03-09 16:00:00 UTC'"  # row 0
        n_all = len(t.scan(mode="list_files").collect())
        n_w = len(t.scan(mode="list_files", where=w).collect())
        assert n_w < n_all
        assert [r.k for r in t.scan(where=w).collect()] == [0]
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_truncate_partition_string(spark, tmp_path):
    from duckdb_iceberg_spark import IcebergTable

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), docs, partition_by=[("truncate", 1, "lang")])
    assert t.scan().count() == docs.count()
    lang = docs.select("lang").first()["lang"]
    pruned = t.scan(partition_filter={"lang": lang})
    assert pruned.filter(F.col("lang") == lang).count() == docs.filter(F.col("lang") == lang).count()


def test_partitioned_mutations(spark, tmp_path, events):
    """DML on a partitioned table: MoR deletes + update + compaction."""
    t = _mk(spark, tmp_path, events.limit(2000), ["event_type"])
    n0 = t.scan().count()
    t.delete_where("value < 0")
    neg = events.limit(2000).filter("value < 0").count()
    assert t.scan().count() == n0 - neg
    t.update_where("event_type = 'click'", {"value": "value * 2"})
    t.rewrite_data_files()
    assert t.scan().count() == n0 - neg
    # compacted files keep the partition layout
    from duckdb_iceberg_spark.plans.manifests import load_table_scan

    scan = load_table_scan(t.meta, t.meta.latest_snapshot(), t.path, False)
    assert all(e.partition for e in scan.data_files())


def test_partition_filter_callable_and_errors(spark, tmp_path, events):
    t = _mk(spark, tmp_path, events, ["event_type"])
    types = {r["event_type"] for r in events.select("event_type").distinct().collect()}
    some = sorted(types)[:2]
    got = t.scan(partition_filter=lambda p: p.get("event_type") in some).count()
    expected = events.filter(F.col("event_type").isin(some)).count()
    assert got == expected
    with pytest.raises(ValueError, match="not a partition source"):
        t.scan(partition_filter={"nope": 1})


def test_bucket_value_spec_vectors():
    """Iceberg spec appendix B test vectors for bucket hashing."""
    import datetime

    from duckdb_iceberg_spark.plans.transforms import bucket_value, murmur3_32

    # spec: hashInt(34) = hashLong(34) = 2017239379
    enc = (34).to_bytes(8, "little")
    assert murmur3_32(enc) == 2017239379
    # spec: hash of UTF-8 "iceberg" = 1210000089
    assert murmur3_32(b"iceberg") == 1210000089
    # spec: timestamps (with or without zone) hash their epoch micros as a long
    epoch = datetime.datetime(1970, 1, 1)
    for ts, h in (
        (datetime.datetime(2017, 11, 16, 22, 31, 8), -2047944441),
        (datetime.datetime(2017, 11, 16, 22, 31, 8, 1), -1207196810),
    ):
        micros = (ts - epoch) // datetime.timedelta(microseconds=1)
        assert murmur3_32(micros.to_bytes(8, "little", signed=True)) == h & 0xFFFFFFFF
        utc = ts.replace(tzinfo=datetime.timezone.utc)
        assert bucket_value(ts, 16) == bucket_value(utc, 16) == (h & 0x7FFFFFFF) % 16


def test_stats_file_skipping(spark, tmp_path):
    """Zone-map pruning: manifest lower/upper bounds written from
    parquet footers must let iceberg_scan skip non-overlapping files."""
    from duckdb_iceberg_spark import IcebergTable
    from duckdb_iceberg_spark.plans.manifests import load_table_scan

    o = spark.read.parquet(f"{SF}/orders.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), o.filter("o_orderkey < 1000"))
    t.append(o.filter("o_orderkey >= 1000 AND o_orderkey < 2000"))
    t.append(o.filter("o_orderkey >= 2000"))
    scan = load_table_scan(t.meta, t.meta.latest_snapshot(), t.path, False)
    assert all(e.lower_bounds and e.upper_bounds for e in scan.data_files())

    n_all = len(t.scan(mode="list_files").collect())
    pruned = t.scan(mode="list_files", where="o_orderkey BETWEEN 1200 AND 1300")
    assert len(pruned.collect()) < n_all

    got = t.scan(where="o_orderkey BETWEEN 1200 AND 1300").count()
    expected = o.filter("o_orderkey BETWEEN 1200 AND 1300").count()
    assert got == expected and expected > 0

    # timestamp bounds too
    lo = "1996-01-01"
    got2 = t.scan(where=F.col("o_orderdate") >= F.lit(lo).cast("timestamp")).count()
    exp2 = o.filter(F.col("o_orderdate") >= F.lit(lo).cast("timestamp")).count()
    assert got2 == exp2

    with pytest.raises(AnalysisException, match="nope"):
        t.scan(where="nope BETWEEN 1 AND 2")


def test_bound_serialization_roundtrip():
    import datetime
    from decimal import Decimal

    from pyspark.sql import types as T

    from duckdb_iceberg_spark.plans.bounds import deserialize_bound, serialize_bound

    cases = [
        (42, T.IntegerType()),
        (-7, T.IntegerType()),
        (2**40, T.LongType()),
        (3.5, T.DoubleType()),
        ("abc", T.StringType()),
        (datetime.date(2021, 3, 4), T.DateType()),
        (True, T.BooleanType()),
        (Decimal("12.34"), T.DecimalType(9, 2)),
    ]
    for v, dt in cases:
        assert deserialize_bound(serialize_bound(v, dt), dt) == v


def test_sorted_compaction_tightens_zone_maps(spark, tmp_path):
    """After rewrite_data_files(sort_by=...), a ``where=`` point range
    must touch fewer files than the unsorted layout."""
    from duckdb_iceberg_spark import IcebergTable

    o = spark.read.parquet(f"{SF}/orders.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), o)
    # fragment into shuffled files: every file spans the full key range
    t.rewrite_data_files(target_file_size_bytes=4 * 1024)
    n_files = len(t.scan(mode="list_files").collect())
    lo, hi = 10, 60
    w = f"o_orderkey BETWEEN {lo} AND {hi}"
    before = len(t.scan(mode="list_files", where=w).collect())
    assert before == n_files  # random layout: nothing prunable
    t.rewrite_data_files(target_file_size_bytes=4 * 1024, sort_by=["o_orderkey"])
    after_all = len(t.scan(mode="list_files").collect())
    after = len(t.scan(mode="list_files", where=w).collect())
    assert after < after_all  # sorted layout: range hits few files
    got = t.scan(where=w).count()
    assert got == o.filter(w).count()


def test_commit_conflict_detection(spark, tmp_path):
    from duckdb_iceberg_spark import IcebergTable
    from duckdb_iceberg_spark.writer import CommitConflictError

    df = spark.read.parquet(f"{SF}/region.parquet")
    t1 = IcebergTable.create(spark, str(tmp_path / "t"), df)
    t2 = IcebergTable(spark, str(tmp_path / "t"))  # second writer, same version
    t1.append(df)
    with pytest.raises(CommitConflictError, match="committed concurrently"):
        t2.append(df)
    # conflicted writer reloads and succeeds
    t2.meta = __import__("duckdb_iceberg_spark.plans.table_metadata", fromlist=["load_table_metadata"]).load_table_metadata(t2.path)
    t2.append(df)
    assert t2.scan().count() == df.count() * 3


def test_where_predicate_prunes_and_filters(spark, tmp_path, events):
    """where= must (a) return exactly the filtered rows and (b) skip
    files via auto-derived stats/partition pruning."""
    from duckdb_iceberg_spark import IcebergTable

    t = _mk(spark, tmp_path, events, ["event_type"])
    # 8 KiB of zstd parquet: five user_id ranges per event type
    t.rewrite_data_files(target_file_size_bytes=8 * 1024, sort_by=["user_id"])

    # equality on the partition column prunes at file level
    w = "event_type = 'click' AND value >= 0"
    got = t.scan(where=w).count()
    expected = events.filter((F.col("event_type") == "click") & (F.col("value") >= 0)).count()
    assert got == expected > 0
    n_all = len(t.scan(mode="list_files").collect())
    n_eq = len(t.scan(mode="list_files", where="event_type = 'click'").collect())
    assert n_eq < n_all

    # range on the sorted column prunes via zone maps
    lo = events.agg(F.expr("percentile(user_id, 0.4)")).first()[0]
    hi = events.agg(F.expr("percentile(user_id, 0.6)")).first()[0]
    w2 = f"user_id BETWEEN {int(lo)} AND {int(hi)}"
    n_rng = len(t.scan(mode="list_files", where=w2).collect())
    assert n_rng < n_all
    assert t.scan(where=w2).count() == events.filter(f"user_id BETWEEN {int(lo)} AND {int(hi)}").count()

    # unparseable predicates still filter exactly (no pruning, no error)
    w3 = "event_type = 'click' OR event_type = 'view'"
    got3 = t.scan(where=w3).count()
    exp3 = events.filter("event_type IN ('click', 'view')").count()
    assert got3 == exp3


def test_where_residual_filter_dropped_when_bounds_prove(spark, tmp_path, events):
    """After manifest pruning, a predicate that every surviving file's
    bounds + zero null count PROVE must not appear as a row filter in
    the physical plan (Hive-partition-predicate semantics); a predicate
    that splits a file must keep the filter; results stay exact both
    ways."""
    from duckdb_iceberg_spark import IcebergTable

    t = _mk(spark, tmp_path, events, ["event_type"])

    import re

    def has_filter_node(df):
        # the operator renders as "Filter (<cond>)"; scan metadata labels
        # (DataFilters:/PushedFilters:) must not count
        plan = df._jdf.queryExecution().executedPlan().toString()
        return bool(re.search(r"\bFilter \(", plan))

    # partition-aligned equality: bounds collapse to the single value,
    # null count is recorded 0 -> no Filter node at all
    df = t.scan(where="event_type = 'click'")
    assert not has_filter_node(df)
    assert df.count() == events.filter("event_type = 'click'").count()

    # a range that splits surviving files: filter must survive
    mid = int(events.agg(F.expr("percentile(user_id, 0.5)")).first()[0])
    df2 = t.scan(where=f"user_id >= {mid}")
    assert has_filter_node(df2)
    assert df2.count() == events.filter(F.col("user_id") >= mid).count()

    # conjunction of a proven and an unproven clause: keep the filter
    df3 = t.scan(where=f"event_type = 'click' AND user_id >= {mid}")
    assert has_filter_node(df3)
    assert (
        df3.count()
        == events.filter((F.col("event_type") == "click") & (F.col("user_id") >= mid)).count()
    )


def test_where_residual_kept_when_nulls_possible(spark, tmp_path):
    """A column with NULLs can never prove its predicate from bounds
    alone (NULL fails the SQL predicate but is invisible to min/max):
    the row filter must survive and exclude the NULL rows."""
    from duckdb_iceberg_spark import IcebergTable

    df = spark.createDataFrame(
        [(1, 10), (2, None), (3, 30)], "id int, v int"
    )
    t = IcebergTable.create(spark, str(tmp_path / "tn"), df)
    got = t.scan(where="v >= 0")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in plan
    assert got.count() == 2


def test_where_column_comparison_not_misparsed(spark, tmp_path, events):
    """col-to-col comparisons and casts must never prune wrongly."""
    from duckdb_iceberg_spark import IcebergTable

    t = IcebergTable.create(spark, str(tmp_path / "t"), events)
    w = "user_id = event_id AND value > -1e9"
    got = t.scan(where=w).count()
    expected = events.filter("user_id = event_id").count()
    assert got == expected
    got2 = t.scan(where="event_id = '3'").count()
    assert got2 == events.filter("event_id = 3").count()


def test_null_partition_values(spark, tmp_path):
    """Rows with NULL partition source land in the default partition
    and survive the roundtrip."""
    from duckdb_iceberg_spark import IcebergTable

    docs = spark.read.parquet(f"{SF}/documents.parquet").withColumn(
        "lang", F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(F.col("lang"))
    )
    t = IcebergTable.create(spark, str(tmp_path / "t"), docs, partition_by=["lang"])
    assert t.scan().count() == docs.count()
    n_null = docs.filter("lang IS NULL").count()
    assert t.scan().filter("lang IS NULL").count() == n_null > 0
    # null-partition files prunable via callable filter
    got = t.scan(partition_filter=lambda p: p.get("lang") is None).count()
    assert got == n_null


def test_rename_partition_source_column(spark, tmp_path):
    """Partition specs reference field ids, so renaming the source
    column keeps both data and pruning working."""
    from duckdb_iceberg_spark import IcebergTable

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), docs, partition_by=["lang"])
    t.rename_column("lang", "language")
    assert t.scan().count() == docs.count()
    lang = docs.select("lang").first()["lang"]
    pruned = t.scan(partition_filter={"language": lang})
    assert pruned.filter(F.col("language") == lang).count() == docs.filter(F.col("lang") == lang).count()


def test_zorder_compaction_prunes_both_dims(spark, tmp_path):
    """After rewrite_data_files(zorder_by=[a, b]), zone-map pruning is
    selective on BOTH columns (sort_by would only help its leading
    column), and data survives byte-identically."""
    from duckdb_iceberg_spark import IcebergTable

    li = spark.read.parquet(f"{SF}/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_quantity"
    )
    t = IcebergTable.create(spark, str(tmp_path / "t"), li)
    total = sum(
        r.record_count for r in t.metadata().filter("content = 'EXISTING'").collect()
    )
    t.rewrite_data_files(target_file_size_bytes=8 * 1024, zorder_by=["l_partkey", "l_suppkey"])
    assert t.scan().count() == li.count() == total

    n_files = t.scan(mode="list_files").filter("type = 'data'").count()
    assert n_files >= 4
    pk = li.agg(F.max("l_partkey")).first()[0]
    sk = li.agg(F.max("l_suppkey")).first()[0]
    pruned_a = t.scan(mode="list_files", where=F.col("l_partkey") <= pk // 8).count()
    pruned_b = t.scan(mode="list_files", where=F.col("l_suppkey") <= max(sk // 8, 1)).count()
    assert pruned_a < n_files
    assert pruned_b < n_files
    # correctness of a pruned read
    got = t.scan(where=F.col("l_partkey") <= pk // 8)
    assert got.count() == li.filter(F.col("l_partkey") <= pk // 8).count()


def test_overwrite_partitions(spark, tmp_path):
    """INSERT OVERWRITE: only the incoming partitions change; other
    partitions' files are metadata-carried (same paths, not
    rewritten); deletes-outstanding tables refuse."""
    from duckdb_iceberg_spark import IcebergTable

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    t = IcebergTable.create(spark, str(tmp_path / "t"), docs, partition_by=["lang"])
    langs = [r.lang for r in docs.select("lang").distinct().collect()]
    target = sorted(langs)[0]
    other_files_before = {
        r.file for r in t.scan(mode="list_files").collect() if f"_p_lang={target}" not in r.file
    }

    repl = docs.filter(F.col("lang") == target).withColumn("n_chars", F.lit(-1))
    t.overwrite_partitions(repl)
    got = t.scan()
    assert got.filter(F.col("lang") == target).count() == repl.count()
    assert got.filter((F.col("lang") == target) & (F.col("n_chars") != -1)).count() == 0
    for lang in langs:
        if lang != target:
            assert got.filter(F.col("lang") == lang).count() == docs.filter(F.col("lang") == lang).count()
    other_files_after = {
        r.file for r in t.scan(mode="list_files").collect() if f"_p_lang={target}" not in r.file
    }
    assert other_files_before == other_files_after  # untouched partitions not rewritten

    t.delete_where(F.col("doc_id") % 50 == 0)
    with pytest.raises(ValueError, match="rewrite_data_files"):
        t.overwrite_partitions(repl)


def test_partition_evolution_add_field(spark, tmp_path):
    """add_partition_field: metadata-only spec bump; new writes are
    routed + prunable by the new field, old-spec files survive
    new-field pruning (their rows may match), and rewrite_manifests
    keeps specs separate so that survival is preserved after a
    metadata compaction."""
    from duckdb_iceberg_spark import IcebergTable
    from duckdb_iceberg_spark.plans.avro import read_avro_file

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang", "text")
    t = IcebergTable.create(spark, str(tmp_path / "t"), docs.filter("doc_id < 100"))
    old_files = {r.file for r in t.scan(mode="list_files").collect()}
    t.add_partition_field("lang")
    assert [pf.name for pf in t.partition_fields] == ["lang"]
    assert t.meta.raw["default-spec-id"] == 1

    t.append(docs.filter("doc_id >= 100 AND doc_id < 200"))
    assert t.scan().count() == 200
    new_files = {r.file for r in t.scan(mode="list_files").collect()} - old_files
    assert len(new_files) > 1  # routed into one file per lang value

    langs = {r.lang for r in docs.filter("doc_id >= 100 AND doc_id < 200").select("lang").distinct().collect()}
    some_lang = sorted(langs)[0]
    pruned = {
        r.file
        for r in t.scan(mode="list_files", partition_filter={"lang": some_lang}).collect()
    }
    # every old-spec file kept; exactly one new-spec file (that lang's)
    assert old_files <= pruned
    assert len(pruned - old_files) == 1

    # row-exact read across mixed specs
    expect = docs.filter("doc_id < 200").filter(F.col("lang") == some_lang).count()
    assert t.scan(where=f"lang = '{some_lang}'").count() == expect

    # manifest compaction preserves the per-spec split and pruning
    t.rewrite_manifests()
    _, manifests = read_avro_file(t.meta.latest_snapshot().manifest_list)
    assert sorted(m.get("partition_spec_id", 0) for m in manifests) == [0, 1]
    pruned2 = {
        r.file
        for r in t.scan(mode="list_files", partition_filter={"lang": some_lang}).collect()
    }
    assert pruned2 == pruned
    assert t.scan().count() == 200


def test_partition_evolution_remove_field(spark, tmp_path):
    from duckdb_iceberg_spark import IcebergTable

    docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "lang", "text")
    t = IcebergTable.create(spark, str(tmp_path / "t"), docs.filter("doc_id < 100"), partition_by=["lang"])
    t.remove_partition_field("lang")
    assert t.partition_fields == []
    t.append(docs.filter("doc_id >= 100 AND doc_id < 150"))
    assert t.scan().count() == 150
    # old files still prunable through their own spec; new (unpartitioned-
    # spec) files lack the key and survive the filter
    all_files = {r.file for r in t.scan(mode="list_files").collect()}
    kept = {r.file for r in t.scan(mode="list_files", partition_filter={"lang": "en"}).collect()}
    assert kept < all_files  # some old-spec files pruned
    with pytest.raises(ValueError, match="not in current spec"):
        t.remove_partition_field("lang")


def test_partition_evolution_respec_prunes_per_spec(spark, tmp_path, events):
    """A partition field dropped and re-added with a DIFFERENT
    transform (bucket(4) -> bucket(8), same derived field name) must
    prune each file under its OWN spec's transform — resolving all
    entries under one union-by-name spec silently drops matching
    files written under the other spec."""
    from duckdb_iceberg_spark.plans.transforms import bucket_value

    df_a = events.filter(F.col("event_id") % 2 == 0)
    df_b = events.filter(F.col("event_id") % 2 == 1)
    t = _mk(spark, tmp_path, df_a, [("bucket", 4, "user_id")])
    t.remove_partition_field("user_id_bucket")
    t.add_partition_field(("bucket", 8, "user_id"))
    t.append(df_b)
    assert t.scan().count() == events.count()
    uids = {r.user_id for r in df_a.select("user_id").distinct().collect()} & {
        r.user_id for r in df_b.select("user_id").distinct().collect()
    }
    # a key whose bucket(4) and bucket(8) values differ: pruning the
    # new-spec files with the old spec's transform would drop them
    uid = next(u for u in sorted(uids) if bucket_value(u, 8) != bucket_value(u, 4))
    pruned = t.scan(partition_filter={"user_id": uid})
    expected = events.filter(F.col("user_id") == uid).count()
    assert pruned.filter(F.col("user_id") == uid).count() == expected > 0
    # and pruning still actually skips files on both specs
    n_all = len(t.scan(mode="list_files").collect())
    n_pruned = len(t.scan(mode="list_files", partition_filter={"user_id": uid}).collect())
    assert n_pruned < n_all


def test_bucket_jvm_expression_matches_python_vectors(spark):
    """The write-path bucket transform is a pure-JVM murmur3_x86_32
    expression for fixed-width keys: bit-exact vs the scalar
    evaluator (incl. the Iceberg spec vector hash(34)=2017239379)
    and never falls back to a Python row UDF."""
    from duckdb_iceberg_spark.plans.transforms import (
        PartitionField,
        bucket_column,
        bucket_value,
        murmur3_32_long_column,
        spark_partition_column,
    )

    vals = [34, 0, 1, -1, -34, 2**62, -(2**62), 123456789012345, None]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = [r.b for r in df.select(bucket_column(F.col("v"), 16, "bigint").alias("b")).collect()]
    assert got == [bucket_value(v, 16) if v is not None else None for v in vals]
    assert (
        df.filter("v = 34").select(murmur3_32_long_column(F.col("v")).alias("h")).first().h
        == 2017239379
    )
    pf = PartitionField("bucket", "v", 16)
    plan = (
        df.withColumn("_p", spark_partition_column(pf, "bigint"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # strings go through an Arrow-batched pandas UDF (never pickled rows)
    sdf = spark.createDataFrame([("iceberg",), (None,), ("abc",)], "s string")
    gs = [r.b for r in sdf.select(bucket_column(F.col("s"), 16, "string").alias("b")).collect()]
    assert gs == [bucket_value(s, 16) if s is not None else None for s in ("iceberg", None, "abc")]
    splan = (
        sdf.withColumn("_p", bucket_column(F.col("s"), 16, "string"))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in splan


def test_where_in_list_and_or_prune_exactly(spark, tmp_path, events, caplog):
    """IN-lists prune at file level; a top-level OR keeps a file when
    either side may match it (a disjunctively-scoped BETWEEN must not
    drop files another side needs), reported by one ``where pruning``
    event; NOT IN is never misparsed as IN."""
    import logging

    t = _mk(spark, tmp_path, events, ["event_type"])
    types = sorted(r.event_type for r in events.select("event_type").distinct().collect())
    two = types[:2]
    in_list = "', '".join(two)

    w = f"event_type IN ('{in_list}')"
    got = t.scan(where=w).count()
    expected = events.filter(F.col("event_type").isin(two)).count()
    assert got == expected > 0
    n_all = len(t.scan(mode="list_files").collect())
    n_in = len(t.scan(mode="list_files", where=w).collect())
    assert n_in < n_all  # file-level pruning happened

    # OR-scoped BETWEEN: every row matching either side must survive
    lo = int(events.agg(F.expr("percentile(user_id, 0.45)")).first()[0])
    hi = int(events.agg(F.expr("percentile(user_id, 0.55)")).first()[0])
    w_or = f"user_id BETWEEN {lo} AND {hi} OR event_type = '{types[-1]}'"
    got_or = t.scan(where=w_or).count()
    exp_or = events.filter(
        ((F.col("user_id") >= lo) & (F.col("user_id") <= hi)) | (F.col("event_type") == types[-1])
    ).count()
    assert got_or == exp_or > 0
    # an OR of two partition-selective sides prunes to their files
    w_or = f"(user_id BETWEEN {lo} AND {hi} AND event_type = '{types[0]}') OR event_type = '{types[-1]}'"
    got_or = t.scan(where=w_or).count()
    exp_or = events.filter(
        ((F.col("user_id") >= lo) & (F.col("user_id") <= hi) & (F.col("event_type") == types[0]))
        | (F.col("event_type") == types[-1])
    ).count()
    assert got_or == exp_or > 0
    caplog.set_level(logging.DEBUG, logger="duckdb_iceberg_spark")
    n_or = len(t.scan(mode="list_files", where=w_or).collect())
    assert n_or < n_all
    (ev,) = [r for r in caplog.records if hasattr(r, "residual_proven")]
    assert (ev.leaves, ev.files_before, ev.files_after, ev.residual_proven) == (3, n_all, n_or, False)
    assert " OR " in ev.condition

    # NOT IN must not prune as if it were IN
    w_not = f"event_type NOT IN ('{two[0]}')"
    got_not = t.scan(where=w_not).count()
    assert got_not == events.filter(f"event_type != '{two[0]}'").count()
    assert len(t.scan(mode="list_files", where=w_not).collect()) == n_all


def test_bucket_jvm_matches_python_randomized(spark):
    """1000 random int64s (plus extremes): the JVM murmur3 expression
    and the pure-Python evaluator must agree on every bucket value —
    the write path and the pruning path hash identically."""
    import random

    from duckdb_iceberg_spark.plans.transforms import bucket_column, bucket_value

    rng = random.Random(1234)
    vals = (
        [rng.randint(-(2**63), 2**63 - 1) for _ in range(1000)]
        + [0, 1, -1, 2**63 - 1, -(2**63), 34]
    )
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    got = {r.v: r.b for r in df.select("v", bucket_column(F.col("v"), 32, "bigint").alias("b")).collect()}
    for v in vals:
        assert got[v] == bucket_value(v, 32), f"mismatch for {v}"
